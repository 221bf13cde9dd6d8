"""CLI — argv-level parity with the reference (cli.py:24-146).

Same three subcommands, same flags where they translate:

* ``crawl URL [--depth N] [--concur N] [--no-cache] [--no-overwrite]
  [--no-logtime] [--silent]`` — the flagship (cli.py:62-98). ``--concur``
  becomes the real per-host politeness budget (the reference's semaphore is
  a no-op, quirk Q4). ``--use-proxy`` has no meaning against a replayed
  pages table and is accepted-but-ignored with a note.
* ``catch URL [-n N]`` — query saved rows by parent (cli.py:54-60),
  printed as ``#N url | title`` (db_ops_controller.py:60-65).
* ``cobweb {create|drop|count} [--silent]`` — DDL/count (cli.py:100-106).

Store flags replace DB-credential flags (``--store-root`` ≡ the database;
``--pages`` ≡ the web). ``--config-update`` persists them like the
reference's ``--db-update`` (cli.py:111-129). Logging uses the reference's
custom level names (E7: DB_INFO/CRAWL_INFO/CRAWL_SUCCESS,
main_logger.py:4-122); ``--silent`` suppresses them.
"""

from __future__ import annotations

import argparse
import logging
import sys
import time
import urllib.parse

from spider_spark.config import ConfigController

# -- logging (E7 analog) -----------------------------------------------------

DB_INFO = 21
CRAWL_INFO = 23
CRAWL_SUCCESS = 25
logging.addLevelName(DB_INFO, "DB_INFO")
logging.addLevelName(CRAWL_INFO, "CRAWL_INFO")
logging.addLevelName(CRAWL_SUCCESS, "CRAWL_SUCCESS")

logger = logging.getLogger("spider_spark")


def _setup_logging(silent: bool) -> None:
    level = logging.WARNING if silent else DB_INFO
    h = logging.StreamHandler(sys.stdout)
    h.setFormatter(logging.Formatter("%(levelname)s | %(message)s"))
    logger.handlers[:] = [h]
    logger.setLevel(level)


# -- session / store helpers -------------------------------------------------


def _open(args):
    from spider_spark.session import get_spark
    from spider_spark.sources.tableio import ParquetManifestIO

    spark = get_spark(app_name="spider-spark-cli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    io = ParquetManifestIO(spark, args.store_root)
    return spark, io


# the reference's one persistent relation is the `url` table (SURVEY §1.1);
# it must NOT collide with the durable engine's internal per-round log,
# which is also called "results" in the same store root
RESULTS_TABLE = "url"


# -- subcommand handlers -----------------------------------------------------


def cmd_crawl(args) -> int:
    from pyspark.sql import functions as F

    from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
    from spider_spark.sources.pages import synthetic_pages

    spark, io = _open(args)
    if args.pages.startswith("synthetic:"):
        pages = synthetic_pages(spark, int(args.pages.split(":", 1)[1]))
        pages = pages.localCheckpoint(eager=True)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        logger.warning("no pages table configured (--pages or config [STORE].pages)")
        return 2
    if args.use_proxy:
        # parity with crawler.py:39-47: the configured proxy string must be
        # a well-formed proxy URL (httpx raises ValueError → the reference
        # wraps it as IncorrectProxyFormatError); validation is real even
        # though no fetch leaves this process against a replayed table
        from spider_spark.errors import IncorrectProxyFormatError

        proxy = ConfigController().load().proxy_host
        parsed = urllib.parse.urlsplit(proxy) if proxy else None
        if parsed is None or parsed.scheme not in ("http", "https") \
                or not parsed.netloc:
            raise IncorrectProxyFormatError(proxy or None)
        logger.log(CRAWL_INFO, "--use-proxy has no effect on a replayed pages table")

    durable = getattr(args, "durable", False) or getattr(args, "resume", False)
    max_fetch = getattr(args, "max_fetch_per_round", 0)
    cfg = CrawlConfig(
        depth=args.depth,
        budget=args.concur if args.concur and args.concur > 0 else None,
        waves=max(1, getattr(args, "waves", 1)),
        max_fetch_per_round=max_fetch if max_fetch and max_fetch > 0 else None,
        use_cache=args.cache,
        verify_text=False,
        durable=durable,
        vacuum_every=(getattr(args, "vacuum_every", 0) or None),
    )
    t0 = time.perf_counter()
    engine = CrawlEngine(spark, pages, cfg, io=io if durable else None)
    if getattr(args, "resume", False):
        result = engine.resume()
    else:
        result = engine.crawl(args.url)
    # persist through the upsert sink (S3): MERGE keyed on url, U1 overwrite
    batch = result.results.filter(F.col("fetched")).select(
        "url", "title", "parent", "content_ref", "depth", "crawl_round",
        "admission_rank",
    )
    io.merge_upsert(RESULTS_TABLE, batch, key="url", overwrite=args.overwrite)
    # end-of-run counters (crawler.py:87-90)
    logger.log(CRAWL_SUCCESS, "crawled: %d", result.successful_crawls)
    logger.log(CRAWL_INFO, "total calls: %d", result.total_calls)
    if args.log_time:
        logger.log(CRAWL_INFO, "elapsed: %.2fs", time.perf_counter() - t0)
    return 0


def cmd_recrawl(args) -> int:
    """Freshness wave over a DURABLE store: expire the stale slice of the
    committed seen set and refetch it, continuing admission ranks from the
    store's counter. Each CLI wave is its own process, so the seen
    prefilter is rebuilt from the committed seen table (the long-running
    in-driver loop that keeps a deletable cuckoo across waves is
    plans/continuous.py — this command is its durable, process-per-wave
    analog)."""
    from pyspark.sql import functions as F

    from spider_spark.operators.recrawl import recrawl_due
    from spider_spark.plans.crawl import CrawlConfig, CrawlEngine

    spark, io = _open(args)
    if args.pages.startswith("synthetic:"):
        from spider_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(spark, int(args.pages.split(":", 1)[1]))
        pages = pages.localCheckpoint(eager=True)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        logger.warning("no pages table configured (--pages or config [STORE].pages)")
        return 2
    meta = io.latest_meta("metrics")
    if not meta:
        logger.warning("nothing to recrawl: run `crawl --durable` first")
        return 1
    cfg = CrawlConfig(
        depth=args.depth,
        budget=args.concur if args.concur and args.concur > 0 else None,
        verify_text=False,
        durable=True,
    )
    engine = CrawlEngine(spark, pages, cfg, io=io)
    # a previous wave killed before its first metrics commit leaves a
    # half-applied seen overwrite standing; roll tables back to the last
    # completed (epoch, round) marker before reading seen (ADVICE r3)
    meta = engine.rollback_dangling() or meta
    seen = io.read("seen")
    due = recrawl_due(
        pages, args.now, args.ttl, jitter_frac=args.jitter
    ).select(F.col("url").alias("canon_url"))
    due = due.join(
        seen.select("canon_url"), on="canon_url", how="left_semi"
    ).localCheckpoint(eager=True)
    n_due = due.count()
    logger.log(CRAWL_INFO, "due for refetch: %d", n_due)
    trimmed = seen.join(due, on="canon_url", how="left_anti").localCheckpoint(
        eager=True
    )
    t0 = time.perf_counter()
    result = engine.crawl(
        due.select(F.col("canon_url").alias("url")),
        seeds_canonical=True, seeds_unique=True,
        prior_seen=trimmed, start_rank=meta["next_rank"],
    )
    batch = result.results.filter(F.col("fetched")).select(
        "url", "title", "parent", "content_ref", "depth", "crawl_round",
        "admission_rank",
    )
    io.merge_upsert(RESULTS_TABLE, batch, key="url", overwrite=True)
    logger.log(CRAWL_SUCCESS, "refetched: %d", result.successful_crawls)
    if args.log_time:
        logger.log(CRAWL_INFO, "elapsed: %.2fs", time.perf_counter() - t0)
    return 0


def cmd_catch(args) -> int:
    from pyspark.sql import functions as F

    from spider_spark.errors import TableNotFoundError
    from spider_spark.functions.urlkit import CanonURL

    spark, io = _open(args)
    parent = CanonURL.seed(args.url).human_repr()
    try:
        rows = (
            io.read(RESULTS_TABLE)
            .filter(F.col("parent") == F.lit(parent))
            .orderBy("admission_rank")
            .select("url", "title")
            .limit(args.n)
            .collect()
        )
    except TableNotFoundError:
        logger.warning("table does not exist — run `cobweb create` or `crawl` first")
        return 1
    # numbered presentation (L2, db_ops_controller.py:62-63)
    for i, r in enumerate(rows, start=1):
        logger.log(DB_INFO, "#%d %s | %s", i, r["url"], r["title"])
    return 0


def cmd_cobweb(args) -> int:
    from spider_spark.errors import TableNotFoundError

    spark, io = _open(args)
    if args.action == "create":
        schema = (
            "url string, title string, parent string, content_ref string, "
            "depth int, crawl_round int, admission_rank long"
        )
        io.create(RESULTS_TABLE, spark.createDataFrame([], schema), check_first=True)
        logger.log(DB_INFO, "table created")
    elif args.action == "drop":
        io.drop(RESULTS_TABLE, check_first=True)
        logger.log(DB_INFO, "table dropped")
    elif args.action == "count":
        try:
            logger.log(DB_INFO, "count: %d", io.count(RESULTS_TABLE))
        except TableNotFoundError:
            logger.warning("table does not exist")
            return 1
    return 0


# -- parser ------------------------------------------------------------------


def build_parser(config: ConfigController) -> argparse.ArgumentParser:
    cfg = config.load()
    p = argparse.ArgumentParser(prog="spider-spark", description="HTML crawler.")
    p.add_argument("-v", "--version", action="version",
                   version="spider-spark (PySpark engine) | v0.1.0")
    p.add_argument("--store-root", default=cfg.root,
                   help="TableIO root directory (the 'database')")
    p.add_argument("--pages", default=cfg.pages,
                   help="pages parquet path, or synthetic:N")
    p.add_argument("--master", default=cfg.master)
    p.add_argument("--config-update", action="store_true", default=False,
                   help="persist --store-root/--pages/--master as defaults "
                        "(≡ reference --db-update)")

    sub = p.add_subparsers(help="Available commands.")

    g = sub.add_parser("catch", help="Get URL from the store.")
    g.add_argument("url", help="parent URL address")
    g.add_argument("-n", type=int, default=10,
                   help="number of URLs to get by this parent (default=10)")
    g.set_defaults(func=cmd_catch)

    s = sub.add_parser("crawl", help="Crawl and save pages.")
    s.add_argument("url", help="URL-address")
    s.add_argument("--depth", type=int, default=1,
                   help="depth of scraping (default=1)")
    s.add_argument("--concur", type=int, default=cfg.concurrency_limit,
                   help="per-host politeness budget per round (0 = unlimited)")
    s.add_argument("--max-fetch-per-round", dest="max_fetch_per_round",
                   type=int, default=0,
                   help="tiered global round capacity: cap fetches per "
                        "round at N, ordered by (depth, admission) — "
                        "0 = uncapped (operators/politeness.py "
                        "global_round_cap; seen set invariant)")
    s.add_argument("--waves", type=int, default=1,
                   help="politeness windows batched per Spark round "
                        "(amortizes round overhead; seen set is invariant)")
    s.add_argument("--no-cache", dest="cache", action="store_false",
                   help="disable the URL-seen cache for this run")
    s.add_argument("--no-logtime", dest="log_time", action="store_false",
                   help="do not measure crawler execution time")
    s.add_argument("--no-overwrite", dest="overwrite", action="store_false",
                   help="keep previously stored page content on conflict")
    s.add_argument("--silent", action="store_true", default=False)
    s.add_argument("--use-proxy", dest="use_proxy", action="store_true",
                   default=False, help="accepted for parity; no-op offline")
    s.add_argument("--durable", action="store_true", default=False,
                   help="commit every round to the store (kill-safe resume)")
    s.add_argument("--resume", action="store_true", default=False,
                   help="continue a killed --durable crawl from its last "
                        "committed round (the seed URL is ignored)")
    s.add_argument("--vacuum-every", dest="vacuum_every", type=int, default=0,
                   help="durable mode: expire superseded round snapshots "
                        "every K rounds (0 = never; keeps the store O(live))")
    s.set_defaults(func=cmd_crawl)

    r = sub.add_parser("recrawl", help="Refetch the stale slice of a "
                                       "durable crawl's corpus.")
    r.add_argument("--now", type=int, required=True,
                   help="logical 'now' as a unix epoch (explicit for "
                        "deterministic, replayable waves)")
    r.add_argument("--ttl", type=int, required=True,
                   help="freshness TTL in seconds")
    r.add_argument("--jitter", type=float, default=0.1,
                   help="TTL jitter fraction in [0,1) — spreads the expiry "
                        "wave so burst-ingested pages don't refetch at once")
    r.add_argument("--depth", type=int, default=1,
                   help="expansion depth for refetched pages (default=1)")
    r.add_argument("--concur", type=int, default=cfg.concurrency_limit,
                   help="per-host politeness budget per round (0 = unlimited)")
    r.add_argument("--no-logtime", dest="log_time", action="store_false")
    r.add_argument("--silent", action="store_true", default=False)
    r.set_defaults(func=cmd_recrawl)

    d = sub.add_parser("cobweb", help="Store operations.")
    d.add_argument("action", choices=["create", "drop", "count"])
    d.add_argument("--silent", action="store_true", default=False)
    d.set_defaults(func=cmd_cobweb)
    return p


def main(argv: list[str] | None = None) -> int:
    config = ConfigController()
    parser = build_parser(config)
    args = parser.parse_args(argv)
    _setup_logging(getattr(args, "silent", False))
    if args.config_update:
        config.set("STORE", "root", args.store_root)
        config.set("STORE", "pages", args.pages)
        config.set("INFRASTRUCTURE", "master", args.master)
        config.save()
        logger.log(DB_INFO, "config saved to %s", config.path)
    func = getattr(args, "func", None)
    if func is None:
        parser.print_usage()
        return 0
    return func(args)


if __name__ == "__main__":
    raise SystemExit(main())
