"""Cross-parallelism parity: the same crawl at any local[N] must produce
byte-identical results (ordering, ranks, seen-set). Prints one hash line.

Usage: python tools/parity_check.py local[2]
"""

from __future__ import annotations

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from spider_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402
from spider_spark.sources.pages import synthetic_pages  # noqa: E402


def main() -> None:
    master = sys.argv[1] if len(sys.argv) > 1 else "local[2]"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    spark = get_spark(app_name=f"parity-{master}", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synthetic_pages(spark, n).localCheckpoint(eager=True)
    cfg = CrawlConfig(depth=5, budget=4, verify_text=False)  # politeness ON
    res = CrawlEngine(spark, pages, cfg).crawl(
        ["https://h0.example/d/0", "https://h3.example/d/7"]
    )
    rows = sorted(
        (r["url"], r["title"], r["depth"], r["crawl_round"], r["admission_rank"],
         r["fetched"])
        for r in res.results.collect()
    )
    seen = sorted(
        (r["canon_url"], r["depth"], r["admission_rank"]) for r in res.seen.collect()
    )
    h = hashlib.md5()
    for t in rows + seen:
        h.update(repr(t).encode())
    print(f"parity {h.hexdigest()} rows={len(rows)} seen={len(seen)}")


if __name__ == "__main__":
    main()
