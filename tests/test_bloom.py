"""Spark-level tests of the sharded bloom seen-set prefilter (D1/H3):
distributed build, per-shard probe, and exactness of filter_unseen."""

import pytest
from pyspark.sql import functions as F

from spider_spark.operators.bloom import ShardedBloom, build_bloom, filter_unseen
from spider_spark.operators.cuckoo import ShardedCuckoo


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("k")
    )


class TestShardedBuildAndProbe:
    def test_build_counts_and_exact_filtering(self, spark):
        seen = _keys(spark, 0, 1000)
        bloom = build_bloom(seen, "k", fpp=0.01, n_shards=4)
        assert bloom.n_shards == 4
        assert bloom.n_items == 1000  # exact count from the fill pass
        assert not bloom.saturated

        # candidates overlap the seen set half-and-half; the output must be
        # exactly the unseen half regardless of bloom false positives
        cand = _keys(spark, 500, 1500)
        out = filter_unseen(cand, "k", seen, bloom)
        got = sorted(r["k"] for r in out.collect())
        assert got == sorted(f"u{i}" for i in range(1000, 1500))

    def test_single_shard_equivalent(self, spark):
        seen = _keys(spark, 0, 300)
        cand = _keys(spark, 200, 400)
        one = filter_unseen(cand, "k", seen, build_bloom(seen, "k", n_shards=1))
        four = filter_unseen(cand, "k", seen, build_bloom(seen, "k", n_shards=4))
        assert {r["k"] for r in one.collect()} == {r["k"] for r in four.collect()}


class TestBroadcastLifecycle:
    def test_filter_unseen_registers_and_destroy_clears(self, spark):
        """VERDICT r2 next-2: probe broadcasts are tracked on the filter and
        destroyable once the probe's jobs ran; materialized outputs stay
        evaluable after destroy."""
        seen = _keys(spark, 0, 500)
        cand = _keys(spark, 400, 700)
        bloom = build_bloom(seen, "k", n_shards=4)
        ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
        out = filter_unseen(cand, "k", seen, bloom, materialize=ckpt)
        assert len(bloom._live_bcasts) == 4
        assert bloom.destroy_broadcasts() == 4
        assert bloom._live_bcasts == []
        # both branches were checkpointed inside filter_unseen: the result
        # never re-runs the probe UDF, so it survives the destroy
        assert out.count() == 200

    @pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
    def test_engine_keeps_live_broadcasts_bounded(self, spark, kind):
        """Across a multi-round crawl the outstanding broadcast count stays
        O(n_shards): each round's handles are destroyed inside the round
        (a 1000-round crawl would otherwise leak ~filter-size × rounds) —
        for a caller-owned bloom and cuckoo alike."""
        from spider_spark.operators.shardstore import ShardedFilter
        from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
        from spider_spark.sources.pages import synthetic_pages

        peak = {"live": 0, "registered": 0, "destroyed": 0}
        orig_reg = ShardedFilter.register_broadcasts
        orig_des = ShardedFilter.destroy_broadcasts

        def reg(self, handles):
            orig_reg(self, handles)
            peak["registered"] += len(handles)
            peak["live"] = max(peak["live"], len(self._live_bcasts))

        def des(self):
            n = orig_des(self)
            peak["destroyed"] += n
            return n

        ShardedFilter.register_broadcasts = reg
        ShardedFilter.destroy_broadcasts = des
        try:
            pages = synthetic_pages(spark, 300).localCheckpoint(eager=True)
            filter_cls = ShardedCuckoo if kind == "cuckoo" else ShardedBloom
            eng = CrawlEngine(
                spark, pages, CrawlConfig(depth=6, verify_text=False),
                seen_filter=filter_cls(10_000, n_shards=2),
            )
            res = eng.crawl("https://h0.example/d/0")
            rounds = len(res.metrics)
            assert rounds >= 3  # multi-round crawl, or the test proves nothing
        finally:
            ShardedFilter.register_broadcasts = orig_reg
            ShardedFilter.destroy_broadcasts = orig_des
        assert isinstance(eng.seen_filter, filter_cls)
        assert peak["registered"] >= 2 * rounds  # one generation per round...
        assert peak["destroyed"] == peak["registered"]  # ...every one destroyed
        assert peak["live"] <= 2  # never more than one generation outstanding


class TestSpillMode:
    """VERDICT r3 #3: spilled shards never reside on the driver — the
    filter object holds only paths; build/probe semantics are identical to
    the in-memory mode."""

    def test_spilled_probe_matches_memory(self, spark, tmp_path):
        from spider_spark.operators.bloom import ShardedBloom, build_into

        seen = _keys(spark, 0, 1000)
        cand = _keys(spark, 500, 1500)
        mem = build_bloom(seen, "k", n_shards=4)
        spl = build_bloom(seen, "k", n_shards=4, spill_dir=str(tmp_path))
        assert spl.spilled and not hasattr(spl, "shards")
        assert spl.n_items == 1000
        got_m = {r["k"] for r in filter_unseen(cand, "k", seen, mem).collect()}
        got_s = {r["k"] for r in filter_unseen(cand, "k", seen, spl).collect()}
        assert got_s == got_m == {f"u{i}" for i in range(1000, 1500)}
        # incremental add writes a new version; old files gc away
        more = _keys(spark, 1000, 1200)
        build_into(spl, more, "k")
        assert spl.n_items == 1200
        assert spl.version == 2
        removed = spl.gc_spill()
        assert removed > 0
        out = filter_unseen(_keys(spark, 900, 1300), "k",
                            seen.unionByName(more), spl)
        assert {r["k"] for r in out.collect()} == {
            f"u{i}" for i in range(1200, 1300)
        }

    def test_driver_bytes_bound_fires_loudly(self, spark, tmp_path):
        import pytest

        from spider_spark.operators.bloom import ShardedBloom

        with pytest.raises(ValueError, match="spill_dir"):
            ShardedBloom(1_000_000, max_driver_bytes=1024)
        # the same sizing is fine when spilled
        ShardedBloom(1_000_000, spill_dir=str(tmp_path),
                     max_driver_bytes=1024)

    def test_crawl_with_spilled_bloom_matches_memory(self, spark, tmp_path):
        """End-to-end: a caller-owned bloom must produce identical crawls
        when its per-round fill lands in shard files instead of driver
        arrays."""
        from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
        from spider_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(spark, 300).localCheckpoint(eager=True)
        seed = "https://h0.example/d/0"
        cfg = CrawlConfig(depth=4, verify_text=False)
        a = CrawlEngine(
            spark, pages, cfg, seen_filter=ShardedBloom(10_000, n_shards=2)
        ).crawl(seed)
        spilled = ShardedBloom(10_000, n_shards=2,
                               spill_dir=str(tmp_path / "filters"))
        b = CrawlEngine(spark, pages, cfg, seen_filter=spilled).crawl(seed)
        assert spilled.n_items == b.seen.count()
        cols = ("url", "depth", "admission_rank", "fetched")
        assert {tuple(r) for r in a.results.select(*cols).collect()} == {
            tuple(r) for r in b.results.select(*cols).collect()
        }
        assert {tuple(r) for r in a.seen.collect()} == {
            tuple(r) for r in b.seen.collect()
        }

    @pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
    def test_growth_preserves_spill_and_cleans_predecessor(self, spark,
                                                           tmp_path, kind):
        """A spilled filter sized for 8 keys grows mid-crawl (rebuilt from
        the seen table, still spilled) and leaves only the live filter's
        current shard files behind — a caller-owned bloom and cuckoo take
        the same path."""
        import os

        from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
        from spider_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(spark, 300).localCheckpoint(eager=True)
        spill = tmp_path / "filters"
        filter_cls = ShardedCuckoo if kind == "cuckoo" else ShardedBloom
        initial = filter_cls(8, spill_dir=str(spill))
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=3, verify_text=False),
                          seen_filter=initial)
        res = eng.crawl("https://h0.example/d/0")
        assert res.successful_crawls > 8
        live = eng.seen_filter
        assert live is not initial and live.spilled and live.expected > 8
        assert live.n_items == res.seen.count()  # exact running count
        # only the live filter's current generation of files remains
        assert set(os.listdir(spill)) == {
            os.path.basename(p) for p in live.shard_paths if p
        }
