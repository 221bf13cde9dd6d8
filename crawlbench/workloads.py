"""The benchmark's workloads: a cached corpus, seeded inputs, one timed
operation each, and the check of that operation's output.

Every workload is a closed loop of one client: the next operation starts
only after the previous one returned. The corpus depends only on its size
(and the generator's source), so it is built once per checkout and cached;
the workload seed picks the seed URLs.
"""

from __future__ import annotations

import random
import shutil
import time
from dataclasses import dataclass, field

from crawlbench import oracles
from crawlbench.host import source_digest

N_PAGES = 16_000
FILLER = 16          # ~1.2 KB pages
BUCKETS = 16
PAGES_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"


# -- corpus --------------------------------------------------------------------


def corpus_key() -> str:
    """Cache key: the generator's source (``sources.pages`` and the text
    kernel it calls) plus its arguments, so a checkout whose generator
    differs never reads another's bytes."""
    src = source_digest("spider_spark/sources/pages.py",
                        "spider_spark/functions/parse.py")
    return f"pages_{N_PAGES}_{FILLER}_{BUCKETS}_{src[:12]}"


def register_corpus(spark, work) -> tuple[object, float]:
    """Register the cached bucketed pages table, building it first when the
    cache is cold. Returns ``(pages, build_seconds)``."""
    from pyspark.sql import functions as F

    from spider_spark.sources.pages import synthetic_pages

    key = corpus_key()
    loc = work / "corpus" / key
    built_s = 0.0
    if not (loc / "_READY").exists():
        t0 = time.perf_counter()
        shutil.rmtree(loc, ignore_errors=True)
        (
            synthetic_pages(spark, N_PAGES, partitions=BUCKETS,
                            filler_repeats=FILLER)
            .repartition(BUCKETS, F.col("url"))
            .write.bucketBy(BUCKETS, "url").sortBy("url")
            .option("path", str(loc)).mode("overwrite")
            .saveAsTable("bench_pages")
        )
        (loc / "_READY").touch()
        built_s = time.perf_counter() - t0
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS bench_pages ({PAGES_DDL}) USING PARQUET "
        f"CLUSTERED BY (url) SORTED BY (url) INTO {BUCKETS} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return spark.table("bench_pages"), built_s


# -- operations ----------------------------------------------------------------


@dataclass
class OpOutput:
    """What one timed operation returns for metrics and checking."""

    fetched: int
    round_s: list[float]
    phase_times: dict[str, float]  # the engine's cumulative seconds per phase
    result: object = field(repr=False)  # the CrawlResult


class FrontierBulk:
    """Plain depth-2 BFS from a random quarter of the pages: no budget, no
    robots rules. fetch_parse is its largest phase (about 30% of the crawl,
    rank about 26%); it takes the engine's no-politeness fast path, so it
    bypasses the scheduler, cuckoo and TableIO."""

    name = "frontier_bulk"
    DEPTH = 2

    def __init__(self, seed: int, n_pages: int = N_PAGES):
        # the workload seed picks the crawl seeds; the corpus never depends on it
        self.n = n_pages
        self.seed_ids = random.Random(seed).sample(range(n_pages),
                                                   self.n_seeds())

    def n_seeds(self) -> int:
        return self.n // 4

    def prepare(self, spark, pages) -> None:
        """Build the operation's inputs in the session (timed as set-up). The
        warm-up crawls an eighth of the seeds: it compiles the same round
        plans as a full operation at a fraction of the cost."""
        self.spark, self.pages = spark, pages
        self.seeds = self._seed_frame(self.seed_ids)
        self.warm_seeds = self._seed_frame(
            self.seed_ids[:max(1, len(self.seed_ids) // 8)])
        # cached RDDs that outlive every operation (the seed frames)
        self.cached_inputs = set(
            spark.sparkContext._jsc.getPersistentRDDs().keys())

    def _seed_frame(self, ids: list[int]):
        from spider_spark.sources.pages import seed_url_for

        return self.spark.createDataFrame(
            [(seed_url_for(i, self.n),) for i in ids], "url string"
        ).localCheckpoint(eager=True)

    def expect(self) -> None:
        """Compute the oracle's answer for the prepared inputs."""
        self.want_rows = oracles.reach(self.seed_ids, self.n, self.DEPTH)
        self.want_ranks = oracles.ranked(self.seed_ids, self.n, self.DEPTH)

    def config(self):
        from spider_spark.plans.crawl import CrawlConfig

        return CrawlConfig(depth=self.DEPTH, verify_text=False,
                           bloom_capacity=2 * self.n,
                           broadcast_threshold=100_000)

    def run(self, warmup: bool = False) -> OpOutput:
        from spider_spark.plans.crawl import CrawlEngine

        engine = CrawlEngine(self.spark, self.pages, self.config())
        res = engine.crawl(self.warm_seeds if warmup else self.seeds,
                           seeds_canonical=True, seeds_unique=True)
        return OpOutput(res.successful_crawls,
                        [m.elapsed_sec for m in res.metrics],
                        engine.phase_times, res)

    def check(self, out: OpOutput) -> str | None:
        """None when the output is correct, else why not."""
        df = out.result.results.select(
            "url", "depth", "title", "fetched", "admission_rank").toPandas()
        rows = {(u, int(d), t, bool(f)) for u, d, t, f in zip(
            df.url, df.depth, df.title.where(df.title.notna(), None),
            df.fetched)}
        ranks = {(u, int(d), int(r)) for u, d, r in zip(
            df.url, df.depth, df.admission_rank)}
        return (oracles.compare("results", rows, self.want_rows)
                or oracles.compare("admission ranks", ranks, self.want_ranks))


class PoliteBudgeted(FrontierBulk):
    """Depth-2 BFS from 300 random pages under a per-host budget, run to
    completion: it drains over carryover rounds, so fixed per-round cost and
    the scheduler dominate."""

    name = "polite_budgeted"
    BUDGET = 75
    WAVES = 4

    def n_seeds(self) -> int:
        return min(300, self.n // 8)

    def expect(self) -> None:
        # strict-BFS budget invariance: the budgeted crawl's seen set is
        # exactly the unbudgeted BFS's
        self.want_seen = {(u, d) for u, d, _, _ in
                          oracles.reach(self.seed_ids, self.n, self.DEPTH)}

    def config(self):
        from dataclasses import replace

        return replace(super().config(), budget=self.BUDGET, waves=self.WAVES)

    def check(self, out: OpOutput) -> str | None:
        if len(out.round_s) <= self.DEPTH + 1:
            return f"budget never bound: {len(out.round_s)} rounds"
        df = out.result.seen.select("canon_url", "depth").toPandas()
        got = {(u, int(d)) for u, d in zip(df.canon_url, df.depth)}
        return oracles.compare("seen set", got, self.want_seen)


WORKLOADS = {w.name: w for w in (FrontierBulk, PoliteBudgeted)}
