#!/usr/bin/env python
"""Scaling-evidence harness: the frontier crawl ONLY, at one parallelism
level, printing one JSON line with wall-clock + per-phase seconds.

Run back-to-back at two levels on the same input for the N-vs-4N
efficiency pair (BENCH/BASELINE.md):

    SPARK_GRAFT_CPUS=2 python tools/scaling_bench.py
    SPARK_GRAFT_CPUS=8 python tools/scaling_bench.py

The pages corpus is content-keyed in the shared warehouse, so every level
reads the identical bucketed table.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def default_driver_mem() -> str:
    """Two thirds of host RAM in whole GiB (the 1M-page crawl runs in 10g
    on a 15 GB host), between 1g and 32g. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, 2 * ram // (3 << 30)))}g"


os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", default_driver_mem())

from pyspark.sql import functions as F  # noqa: E402

from bench import bucketed_pages  # noqa: E402
from spider_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402
from spider_spark.sources.pages import url_expr  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    n_pages = int(os.environ.get("SPARK_GRAFT_CRAWL_PAGES", "1000000"))
    n_seeds = int(os.environ.get("SPARK_GRAFT_CRAWL_SEEDS", "250000"))
    depth = int(os.environ.get("SPARK_GRAFT_CRAWL_DEPTH", "2"))
    filler = int(os.environ.get("SPARK_GRAFT_PAGE_FILLER", "16"))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "1"))

    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    extra = {"spark.sql.warehouse.dir": "/tmp/spider_warehouse"}
    if local_dir:
        extra["spark.local.dir"] = local_dir
    if os.environ.get("SPARK_GRAFT_AQE") == "0":
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark(
        app_name=f"spider-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(2 * cpus))
        ),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = bucketed_pages(spark, n_pages, filler)

    # warmup (un-timed): JIT + Python worker fork, same as bench.py
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(0, 100_000, 1, 2 * cpus).select(_warm(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    pages.limit(1000).write.format("noop").mode("overwrite").save()

    runs = []
    for _ in range(repeats):
        seeds_df = spark.range(0, n_pages, max(1, n_pages // n_seeds), 64).select(
            url_expr(F.col("id")).alias("url")
        )
        engine = CrawlEngine(
            spark,
            pages,
            CrawlConfig(
                depth=depth,
                verify_text=False,
                bloom_capacity=2 * n_pages,
                broadcast_threshold=int(
                    os.environ.get("SPARK_GRAFT_BCAST_THRESHOLD", "100000")
                ),
            ),
        )
        t0 = time.perf_counter()
        result = engine.crawl(seeds_df, seeds_canonical=True, seeds_unique=True)
        crawl_sec = time.perf_counter() - t0
        fetched = result.successful_crawls
        runs.append(
            {
                "crawl_sec": round(crawl_sec, 2),
                "pages_per_sec": round(fetched / crawl_sec, 1),
                "fetched": fetched,
                "rounds": len(result.metrics),
                "phase_sec": {k: round(v, 2) for k, v in engine.phase_times.items()},
            }
        )

    from bench import _git_sha

    print(json.dumps({
        "cpus": cpus,
        "n_pages": n_pages,
        "runs": runs,
        "git_sha": _git_sha(),
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }))


if __name__ == "__main__":
    main()
