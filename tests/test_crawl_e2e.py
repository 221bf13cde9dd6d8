"""End-to-end crawl tests against an independent DuckDB oracle (SURVEY §5b).

The pages table's link graph is defined arithmetically
(spider_spark/sources/pages.py), so a DuckDB recursive CTE can compute the
expected URL-seen set, min-depths, titles and fetch outcomes without
parsing any HTML. The engine must reproduce that exactly through its real
pipeline: fetch-join → Arrow parse UDF → explode → dedupe → bloom+anti-join.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
from spider_spark.sources.pages import (
    oracle_results_sql,
    pages_from_documents,
    seed_url_for,
)

N_DOCS = 500


def oracle_rows(sf_dir: str, seed_id: int, depth: int):
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from '{sf_dir}/documents.parquet'"
    )
    df = con.sql(
        oracle_results_sql(seed_id=seed_id, depth=depth) + " ORDER BY url"
    ).df()
    return {
        (r.url, r.title if r.title == r.title else None, int(r.depth), bool(r.fetched))
        for r in df.itertuples()
    }


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir).localCheckpoint(eager=True)


def engine_rows(result):
    return {
        (r["url"], r["title"], r["depth"], r["fetched"])
        for r in result.results.select("url", "title", "depth", "fetched").collect()
    }


class TestCrawlOracle:
    def test_depth3_matches_oracle(self, spark, sf_dir, pages):
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=3))
        res = eng.crawl(seed_url_for(0, N_DOCS))
        assert engine_rows(res) == oracle_rows(sf_dir, 0, 3)

    def test_depth6_other_seed(self, spark, sf_dir, pages):
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=6))
        res = eng.crawl(seed_url_for(7, N_DOCS))
        assert engine_rows(res) == oracle_rows(sf_dir, 7, 6)

    def test_counters(self, spark, sf_dir, pages):
        # total_calls == |seen|; successful == fetched rows (crawler.py:61-62)
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=3))
        res = eng.crawl(seed_url_for(0, N_DOCS))
        oracle = oracle_rows(sf_dir, 0, 3)
        assert res.total_calls == len(oracle)
        assert res.successful_crawls == sum(1 for r in oracle if r[3])
        assert res.count_all() == res.successful_crawls

    def test_budget_preserves_seen_set(self, spark, sf_dir, pages):
        # politeness changes scheduling, never membership (SURVEY I2/Q4)
        free = CrawlEngine(spark, pages, CrawlConfig(depth=3))
        tight = CrawlEngine(spark, pages, CrawlConfig(depth=3, budget=2, salt=4))
        seed = seed_url_for(0, N_DOCS)
        res_free = free.crawl(seed)
        res_tight = tight.crawl(seed)
        a = {r["canon_url"] for r in res_free.seen.collect()}
        b = {r["canon_url"] for r in res_tight.seen.collect()}
        assert a == b
        # budget forces carryover → strictly more rounds than depth+1
        assert len(res_tight.metrics) > len(res_free.metrics)
        assert engine_rows(res_tight) == oracle_rows(sf_dir, 0, 3)

    def test_no_bloom_same_result(self, spark, sf_dir, pages):
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=3, use_bloom=False))
        res = eng.crawl(seed_url_for(0, N_DOCS))
        assert engine_rows(res) == oracle_rows(sf_dir, 0, 3)

    def test_sharded_bloom_with_growth_same_result(self, spark, sf_dir, pages):
        """The 10^10-path config — 4 hash-partitioned bloom shards and a
        deliberately tiny capacity hint (forces the saturation→rebuild
        path mid-crawl) — must be invisible to results (H3: exact by
        construction)."""
        eng = CrawlEngine(
            spark, pages,
            CrawlConfig(depth=4, bloom_shards=4, bloom_capacity=8),
        )
        res = eng.crawl(seed_url_for(0, N_DOCS))
        assert engine_rows(res) == oracle_rows(sf_dir, 0, 4)

    def test_durable_mode_matches_oracle(self, spark, sf_dir, pages,
                                         tmp_path_factory):
        """Durable mode swaps the dedupe's seen side for the bucketed
        catalog accelerator and commits O(delta) snapshots — none of which
        may be visible in results: both the in-memory result and the
        committed results table must equal the oracle."""
        from spider_spark.sources.tableio import ParquetManifestIO

        io = ParquetManifestIO(spark, str(tmp_path_factory.mktemp("dur_io")))
        eng = CrawlEngine(
            spark, pages, CrawlConfig(depth=3, durable=True), io=io
        )
        res = eng.crawl(seed_url_for(0, N_DOCS))
        expected = oracle_rows(sf_dir, 0, 3)
        assert engine_rows(res) == expected
        stored = {
            (r["url"], r["title"], r["depth"], r["fetched"])
            for r in io.read("results")
            .select("url", "title", "depth", "fetched").collect()
        }
        assert stored == expected
        # seen manifest (seed snapshot + per-round deltas) is exact too
        assert io.read("seen").count() == len(expected)

    def test_catch_and_ordering(self, spark, sf_dir, pages):
        # P1 + L2: catch returns fetched rows for the seed parent in
        # admission order, numbered from the seed itself
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=2))
        seed = seed_url_for(0, N_DOCS)
        res = eng.crawl(seed)
        rows = res.catch(seed, limit=3).collect()
        assert rows[0]["url"] == seed  # the seed is crawled first
        ranks = (
            res.results.filter(F.col("fetched"))
            .orderBy("admission_rank")
            .select("admission_rank")
            .collect()
        )
        vals = [r[0] for r in ranks]
        assert vals == sorted(vals)

    def test_seed_scheme_prefix(self, spark, pages):
        # crawler.py:51-52: schemeless seed gets https://
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=0))
        res = eng.crawl("h0.example/d/0")
        rows = res.results.collect()
        assert len(rows) == 1 and rows[0]["url"] == "https://h0.example/d/0"
        assert rows[0]["fetched"]
        assert rows[0]["parent"] == "https://h0.example/d/0"

    def test_dead_seed(self, spark, pages):
        # failed download: admitted (seen) but not saved (crawler.py:102-104)
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=2))
        res = eng.crawl("https://nowhere.example/x")
        assert res.total_calls == 1
        assert res.successful_crawls == 0
        assert res.count_all() == 0
        rows = res.results.collect()
        assert len(rows) == 1 and not rows[0]["fetched"]


class TestTextInvariant:
    def test_corrupted_text_column_fails_loudly(self, spark):
        """input_hint's per-row invariant (byte-identical extracted text
        per url) is enforced in-flight: a pages table whose stored text
        disagrees with the parse kernel aborts the round."""
        from spider_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(spark, 20).withColumn(
            "text", F.concat(F.col("text"), F.lit(" CORRUPTED"))
        ).localCheckpoint(eager=True)
        eng = CrawlEngine(spark, pages, CrawlConfig(depth=1, verify_text=True))
        with pytest.raises(AssertionError, match="text invariant violated"):
            eng.crawl("https://h0.example/d/0")


class TestNoCache:
    def test_no_cache_refetches_and_counts_more(self, spark):
        """--no-cache parity (use_cache.py:19-28): with the seen-set gate
        off, URLs reachable along multiple paths are re-admitted and
        re-fetched; the unique fetched-URL set is unchanged (BFS still
        depth-bounded), while total_calls grows past the unique count.
        A 10-page graph wraps mod n within depth 4 (0→…→2·3+1≡1 again),
        so cross-round revisits actually occur."""
        from pyspark.sql import functions as F

        from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
        from spider_spark.sources.pages import synthetic_pages

        tiny = synthetic_pages(spark, 10).localCheckpoint(eager=True)
        seed = "https://h0.example/d/0"
        cached_eng = CrawlEngine(
            spark, tiny, CrawlConfig(depth=4, verify_text=False)
        )
        cached = cached_eng.crawl(seed)
        uncached_eng = CrawlEngine(
            spark, tiny, CrawlConfig(depth=4, verify_text=False, use_cache=False)
        )
        uncached = uncached_eng.crawl(seed)
        # with the gate off no seen filter is built, filled or grown
        assert cached_eng.seen_filter is not None
        assert uncached_eng.seen_filter is None
        cached_urls = {
            r["url"] for r in cached.results.filter(F.col("fetched")).collect()
        }
        uncached_urls = {
            r["url"] for r in uncached.results.filter(F.col("fetched")).collect()
        }
        assert uncached_urls == cached_urls
        assert uncached.total_calls > cached.total_calls

    def test_seen_filter_requires_cache(self, spark):
        """A caller's filter must see every admission the next crawl
        trusts it for; with the gate off it would not, so the combination
        is refused up front."""
        from spider_spark.operators.cuckoo import ShardedCuckoo
        from spider_spark.plans.crawl import CrawlConfig, CrawlEngine

        with pytest.raises(ValueError, match="use_cache"):
            CrawlEngine(spark, spark.range(1), CrawlConfig(use_cache=False),
                        seen_filter=ShardedCuckoo(16))
