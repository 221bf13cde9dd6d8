"""Politeness scheduler tests: per-host budget top-k (salted two-stage),
robots disallow/crawl-delay, and budget round-carryover in the engine."""

import pytest
from pyspark.sql import functions as F

from spider_spark.operators.politeness import RobotsRules, apply_robots, schedule
from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
from spider_spark.sources.pages import synthetic_pages


@pytest.fixture(scope="module")
def frontier(spark):
    rows = [
        (f"https://h{h}.example/p/{i}", f"h{h}.example", 1,
         "https://seed/", "https://seed/", h * 100 + i, 1)
        for h in range(3)
        for i in range(10)
    ]
    return spark.createDataFrame(
        rows,
        "canon_url string, host string, depth int, seed string, parent string, "
        "admission_rank long, round_admitted int",
    ).cache()


class TestSchedule:
    def test_budget_topk_per_host(self, frontier):
        eligible, carryover, blocked = schedule(frontier, budget=4, salt=4)
        el = eligible.collect()
        assert len(el) == 12  # 4 × 3 hosts
        by_host = {}
        for r in el:
            by_host.setdefault(r["host"], []).append(r["admission_rank"])
        for h in range(3):
            # exact top-4 by (depth, admission_rank) — the priority queue
            assert sorted(by_host[f"h{h}.example"]) == [
                h * 100, h * 100 + 1, h * 100 + 2, h * 100 + 3
            ]
        assert carryover.count() == 18
        assert blocked.count() == 0
        # partition: eligible ∪ carryover == frontier exactly
        assert (
            eligible.unionByName(carryover).select("canon_url").distinct().count()
            == 30
        )

    def test_unlimited_budget_passthrough(self, frontier):
        eligible, carryover, blocked = schedule(frontier, budget=None)
        assert eligible.count() == 30
        assert carryover.count() == 0


class TestRobots:
    def test_disallow_prefix_blocks(self, frontier):
        rules = RobotsRules(
            disallow={"h1.example": ("/p/",)}, crawl_delay={}
        )
        allowed, blocked = apply_robots(frontier, rules)
        assert blocked.count() == 10
        assert {r["host"] for r in blocked.collect()} == {"h1.example"}
        assert allowed.count() == 20

    def test_crawl_delay_caps_budget(self, frontier):
        rules = RobotsRules(
            disallow={}, crawl_delay={"h2.example": 30.0}  # 60s window → 2 fetches
        )
        eligible, carryover, _ = schedule(frontier, budget=5, rules=rules)
        by_host = {}
        for r in eligible.collect():
            by_host[r["host"]] = by_host.get(r["host"], 0) + 1
        assert by_host["h0.example"] == 5
        assert by_host["h1.example"] == 5
        assert by_host["h2.example"] == 2


class TestRobotsTTL:
    def test_expired_rules_stop_constraining(self, spark, frontier):
        import datetime as dt

        now = dt.datetime(2024, 6, 1, 12, 0, 0)
        robots = spark.createDataFrame(
            [
                ("h1.example", ["/p/"], 0.0, now - dt.timedelta(hours=1)),
                ("h2.example", ["/p/"], 0.0, now - dt.timedelta(days=7)),
                ("h0.example", ["/p/"], 0.0, None),
            ],
            "host string, disallow_prefixes array<string>, crawl_delay double, "
            "fetched_ts timestamp",
        )
        rules = RobotsRules.from_df(robots, now=now, ttl_sec=24 * 3600)
        _, blocked = apply_robots(frontier, rules)
        # only the fresh rule constrains: stale (h2) and never-fetched (h0)
        # entries expire → crawl-allowed default
        assert {r["host"] for r in blocked.collect()} == {"h1.example"}
        # no TTL configured → everything applies
        rules_all = RobotsRules.from_df(robots)
        _, blocked_all = apply_robots(frontier, rules_all)
        assert {r["host"] for r in blocked_all.collect()} == {
            "h0.example", "h1.example", "h2.example"
        }

    def test_large_robots_table_never_collected(self, spark, frontier):
        """VERDICT r1 wrong-4: the robots path must hold a rules table far
        too large to reasonably collect — 10^5 hosts stays a join, no
        driver materialization (RobotsRules carries only the DataFrame)."""
        big = spark.range(0, 100_000).select(
            F.concat(F.lit("x"), F.col("id").cast("string"), F.lit(".example"))
            .alias("host"),
            F.array(F.lit("/blocked/")).alias("disallow_prefixes"),
            F.lit(0.0).alias("crawl_delay"),
        ).unionByName(
            spark.createDataFrame(
                [("h1.example", ["/p/"], 30.0)],
                "host string, disallow_prefixes array<string>, crawl_delay double",
            )
        )
        rules = RobotsRules.from_df(big)
        assert rules.df is not None  # no driver dicts were built
        eligible, carryover, blocked = schedule(frontier, budget=5, rules=rules)
        # /p/ prefix on h1 blocks all its rows; the 10^5 /blocked/ rules
        # match nothing in this frontier
        assert {r["host"] for r in blocked.collect()} == {"h1.example"}
        by_host = {}
        for r in eligible.collect():
            by_host[r["host"]] = by_host.get(r["host"], 0) + 1
        assert by_host == {"h0.example": 5, "h2.example": 5}


class TestStrictBfsAndWaves:
    @pytest.fixture(scope="class")
    def mixed_depth_frontier(self, spark):
        rows = [
            (f"https://h0.example/p/{d}{i}", "h0.example", d,
             "https://seed/", "https://seed/", d * 100 + i, 1)
            for d in (1, 2)
            for i in range(6)
        ]
        return spark.createDataFrame(
            rows,
            "canon_url string, host string, depth int, seed string, parent string, "
            "admission_rank long, round_admitted int",
        ).cache()

    def test_strict_bfs_gates_to_min_depth(self, mixed_depth_frontier):
        # budget 8 > 6 depth-1 rows, but strict BFS never reaches depth 2
        eligible, carryover, _ = schedule(
            mixed_depth_frontier, budget=8, strict_bfs=True
        )
        assert {r["depth"] for r in eligible.collect()} == {1}
        assert eligible.count() == 6
        assert carryover.count() == 6  # all of depth 2 carried

    def test_non_strict_fills_budget_across_depths(self, mixed_depth_frontier):
        eligible, carryover, _ = schedule(
            mixed_depth_frontier, budget=8, strict_bfs=False
        )
        got = eligible.collect()
        assert len(got) == 8
        # priority order still (depth, admission_rank): all 6 depth-1 rows
        # first, then the 2 best depth-2 rows
        assert sum(1 for r in got if r["depth"] == 1) == 6
        assert sorted(r["admission_rank"] for r in got if r["depth"] == 2) == [200, 201]

    def test_waves_batch_budget_and_delay(self, frontier):
        # waves=2 → top-8 per host instead of top-4
        eligible, _, _ = schedule(frontier, budget=4, waves=2)
        by_host = {}
        for r in eligible.collect():
            by_host[r["host"]] = by_host.get(r["host"], 0) + 1
        assert by_host == {f"h{h}.example": 8 for h in range(3)}
        # delay cap scales with waves: 30s delay in a 60s window = 2/round,
        # ×2 waves = 4
        rules = RobotsRules(disallow={}, crawl_delay={"h2.example": 30.0})
        eligible2, _, _ = schedule(frontier, budget=5, rules=rules, waves=2)
        by_host2 = {}
        for r in eligible2.collect():
            by_host2[r["host"]] = by_host2.get(r["host"], 0) + 1
        assert by_host2 == {"h0.example": 10, "h1.example": 10, "h2.example": 4}

    def test_engine_seen_set_invariant_under_waves(self, spark):
        pages = synthetic_pages(spark, 200).localCheckpoint(eager=True)
        base = CrawlEngine(
            spark, pages, CrawlConfig(depth=3, verify_text=False)
        ).crawl("https://h8.example/d/7")
        expected = {r["canon_url"] for r in base.seen.collect()}
        for waves in (1, 3):
            budgeted = CrawlEngine(
                spark,
                pages,
                CrawlConfig(depth=3, budget=2, waves=waves, verify_text=False),
            ).crawl("https://h8.example/d/7")
            got = {r["canon_url"] for r in budgeted.seen.collect()}
            assert got == expected, f"seen set diverged at waves={waves}"


class TestEngineRobots:
    def test_blocked_urls_never_fetched_or_seen(self, spark):
        # graph note: odd ids only link to odd ids, and every even id is on
        # h0 — so from an odd seed, block an odd-id host that IS reachable:
        # seed id 7 (h8) reaches id 23 (h5) at depth 2
        pages = synthetic_pages(spark, 100).localCheckpoint(eager=True)
        robots = spark.createDataFrame(
            [("h5.example", ["/d/"], 0.0)],
            "host string, disallow_prefixes array<string>, crawl_delay double",
        )
        eng = CrawlEngine(
            spark, pages, CrawlConfig(depth=3, verify_text=False), robots=robots
        )
        res = eng.crawl("https://h8.example/d/7")
        fetched_hosts = {
            r["url"].split("/")[2]
            for r in res.results.filter(F.col("fetched")).collect()
        }
        assert "h5.example" not in fetched_hosts
        assert sum(m.blocked for m in res.metrics) > 0


class TestGlobalRoundCap:
    def test_exact_topn_and_partition(self, frontier):
        from spider_spark.operators.politeness import global_round_cap

        kept, deferred = global_round_cap(frontier, 7, strict_bfs=False)
        rows = kept.collect()
        # all depth 1 → the 7 globally smallest admission ranks, exactly
        assert sorted(r["admission_rank"] for r in rows) == list(range(7))
        assert deferred.count() == 23
        # partition: kept ∪ deferred == frontier exactly
        assert (
            kept.unionByName(deferred).select("canon_url").distinct().count() == 30
        )

    def test_tiers_claim_capacity_first(self, frontier):
        from spider_spark.operators.politeness import global_round_cap

        # h2 is the favored tier; cap 12 = all 10 of h2 + the 2 globally
        # best of the rest (priority order resumes below the tier)
        tiered = frontier.withColumn(
            "t",
            F.when(F.col("host") == "h2.example", F.lit(0)).otherwise(F.lit(9)),
        )
        kept, _ = global_round_cap(tiered, 12, tier_col="t", strict_bfs=False)
        rows = kept.collect()
        assert len(rows) == 12
        assert sum(1 for r in rows if r["host"] == "h2.example") == 10
        assert sorted(
            r["admission_rank"] for r in rows if r["host"] != "h2.example"
        ) == [0, 1]

    def test_strict_bfs_gate_outranks_tiers(self, spark):
        from spider_spark.operators.politeness import global_round_cap

        # tiers favor the DEEP host; the strict gate must still keep only
        # min-depth rows (this is the invariance-theorem guard: without it
        # a capped budget-less crawl would fetch high-tier deep URLs first
        # and stamp discoveries at non-minimal depths)
        rows = [
            ("https://shallow.example/p/%d" % i, "shallow.example", 1,
             "s", "s", 100 + i, 1, 9)
            for i in range(4)
        ] + [
            ("https://deep.example/p/%d" % i, "deep.example", 2,
             "s", "s", i, 1, 0)
            for i in range(4)
        ]
        df = spark.createDataFrame(
            rows,
            "canon_url string, host string, depth int, seed string, "
            "parent string, admission_rank long, round_admitted int, t int",
        )
        kept, deferred = global_round_cap(df, 3, tier_col="t", strict_bfs=True)
        got = kept.collect()
        assert {r["depth"] for r in got} == {1}
        assert sorted(r["admission_rank"] for r in got) == [100, 101, 102]
        # the un-kept shallow row AND every deep row defer
        assert deferred.count() == 5
        # non-strict mode: the tier key leads and the deep host wins
        kept_ns, _ = global_round_cap(df, 3, tier_col="t", strict_bfs=False)
        assert {r["depth"] for r in kept_ns.collect()} == {2}

    def test_cap_validation(self, frontier):
        from spider_spark.operators.politeness import global_round_cap

        with pytest.raises(ValueError):
            global_round_cap(frontier, 0)


class TestEngineRoundCap:
    @pytest.fixture(scope="class")
    def pages(self, spark):
        return synthetic_pages(spark, 200).localCheckpoint(eager=True)

    # NB: odd page ids only link to odd ids (2i+1, 3i+2 both odd for odd i)
    # and every even id lives on h0 — so these tests seed from an EVEN id
    # (8) to get levels mixing the hot host h0 with the odd-id hosts.

    def test_seen_set_and_depths_invariant_under_cap(self, spark, pages):
        base = CrawlEngine(
            spark, pages, CrawlConfig(depth=3, verify_text=False)
        ).crawl("https://h0.example/d/8")
        expected = {(r["canon_url"], r["depth"]) for r in base.seen.collect()}
        tiers = spark.createDataFrame(
            [("h0.example", 0)], "host string, tier int"
        )
        capped = CrawlEngine(
            spark,
            pages,
            CrawlConfig(depth=3, max_fetch_per_round=4, verify_text=False),
            host_tiers=tiers,
        ).crawl("https://h0.example/d/8")
        got = {(r["canon_url"], r["depth"]) for r in capped.seen.collect()}
        assert got == expected
        # the cap stretched levels over extra rounds
        assert len(capped.metrics) > len(base.metrics)
        # every round fetched at most the cap
        assert max(m.fetched for m in capped.metrics) <= 4

    def test_tiers_order_rounds_within_level(self, spark, pages):
        # within one depth level, every favored-host fetch happens no later
        # than the round where any other host first fetches (the tier key
        # ranks the whole level before capacity splits it across rounds)
        tiers = spark.createDataFrame(
            [("h0.example", 0)], "host string, tier int"
        )
        res = CrawlEngine(
            spark,
            pages,
            CrawlConfig(depth=4, max_fetch_per_round=2, verify_text=False),
            host_tiers=tiers,
        ).crawl("https://h0.example/d/8")
        fetched = res.results.filter(F.col("fetched")).collect()
        by_depth: dict = {}
        for r in fetched:
            by_depth.setdefault(r["depth"], []).append(r)
        checked = 0
        for depth, rows in by_depth.items():
            fav = [r["crawl_round"] for r in rows
                   if r["url"].startswith("https://h0.example/")]
            rest = [r["crawl_round"] for r in rows
                    if not r["url"].startswith("https://h0.example/")]
            if fav and rest:
                assert max(fav) <= min(rest), f"depth {depth}"
                checked += 1
        assert checked > 0  # the fixture produced mixed-host levels

    def test_inverted_tiers_same_membership_different_schedule(
        self, spark, pages
    ):
        cfgs = []
        for fav in ("h0.example", "h18.example"):
            tiers = spark.createDataFrame(
                [(fav, 0)], "host string, tier int"
            )
            res = CrawlEngine(
                spark,
                pages,
                CrawlConfig(depth=4, max_fetch_per_round=2, verify_text=False),
                host_tiers=tiers,
            ).crawl("https://h0.example/d/8")
            cfgs.append(
                {
                    (r["url"], r["crawl_round"])
                    for r in res.results.filter(F.col("fetched")).collect()
                }
            )
        a, b = cfgs
        assert {u for u, _ in a} == {u for u, _ in b}  # same membership
        assert a != b  # different schedule


class TestHostBudgetTable:
    def test_per_host_budgets_compose_with_scalar(self, spark, frontier):
        hb = spark.createDataFrame(
            [("h0.example", 2), ("h1.example", 7)], "host string, budget int"
        )
        eligible, carryover, _ = schedule(frontier, budget=5, host_budgets=hb)
        by_host = {}
        for r in eligible.collect():
            by_host[r["host"]] = by_host.get(r["host"], 0) + 1
        # min(scalar, table): h0 -> 2, h1 -> 5 (table 7 > scalar), h2 -> 5
        assert by_host == {"h0.example": 2, "h1.example": 5, "h2.example": 5}
        assert carryover.count() == 30 - 12

    def test_table_only_budgets(self, spark, frontier):
        hb = spark.createDataFrame(
            [("h0.example", 3)], "host string, budget int"
        )
        eligible, carryover, _ = schedule(frontier, budget=None, host_budgets=hb)
        by_host = {}
        for r in eligible.collect():
            by_host[r["host"]] = by_host.get(r["host"], 0) + 1
        # listed host capped, unlisted hosts unlimited
        assert by_host == {"h0.example": 3, "h1.example": 10, "h2.example": 10}
        # exact top-3 by admission rank on the capped host
        got = sorted(
            r["admission_rank"] for r in eligible.collect()
            if r["host"] == "h0.example"
        )
        assert got == [0, 1, 2]

    def test_zero_budget_clamps_to_one(self, spark, frontier):
        hb = spark.createDataFrame(
            [("h0.example", 0)], "host string, budget int"
        )
        eligible, _, _ = schedule(frontier, budget=None, host_budgets=hb)
        n_h0 = eligible.filter(F.col("host") == "h0.example").count()
        assert n_h0 == 1  # 0 would starve carryover and hang the crawl loop

    def test_waves_scale_table_budgets(self, spark, frontier):
        hb = spark.createDataFrame(
            [("h0.example", 2)], "host string, budget int"
        )
        eligible, _, _ = schedule(
            frontier, budget=None, host_budgets=hb, waves=3
        )
        assert eligible.filter(F.col("host") == "h0.example").count() == 6

    def test_engine_seen_invariant_under_host_budgets(self, spark):
        # many even-id seeds: the hot host h0 holds a whole seed level, so
        # its table budget BINDS (extra carryover rounds), yet membership
        # and depth stamps must match the unbudgeted crawl exactly
        pages = synthetic_pages(spark, 200).localCheckpoint(eager=True)
        seeds = [f"https://h0.example/d/{i}" for i in range(0, 40, 4)]
        base = CrawlEngine(
            spark, pages, CrawlConfig(depth=2, verify_text=False)
        ).crawl(seeds)
        expected = {(r["canon_url"], r["depth"]) for r in base.seen.collect()}
        hb = spark.createDataFrame(
            [("h0.example", 3), ("h18.example", 1)], "host string, budget int"
        )
        budgeted = CrawlEngine(
            spark, pages, CrawlConfig(depth=2, verify_text=False),
            host_budgets=hb,
        ).crawl(seeds)
        got = {(r["canon_url"], r["depth"]) for r in budgeted.seen.collect()}
        assert got == expected
        assert len(budgeted.metrics) > len(base.metrics)  # budget bound


# ---- exactness against a plain per-group reference -------------------------
# One hot host (h0) holds 60% of the rows; admission ranks take only four
# values, so the canon_url tie-break decides every cut, and input order is
# the reverse of canon_url order. Delay caps: h0 → 3/window, h1 → NULL
# (delay 0), h2 → 2/window, h3/h4 → NULL (no robots row). The budget table
# leaves h3 out, so with budget=None h3 is uncapped and passes through whole.
_EX_HOSTS = ["h0.example"] * 60 + [f"h{1 + j % 4}.example" for j in range(40)]
_EX_DELAY = {"h0.example": 20.0, "h1.example": 0.0, "h2.example": 30.0}
_EX_HB = {"h0.example": 5, "h1.example": 2, "h2.example": 4, "h4.example": 1}
_EX_WAVES = 3


def _ex_rows():
    return [
        (f"https://{h}/p/{199 - i:03d}", h, 1 + (i // 3) % 2, i % 4)
        for i, h in enumerate(_EX_HOSTS)
    ]


def _reference_schedule(rows, budget, strict):
    """Per host: sort by (depth, admission_rank, canon_url) and slice to
    the least of the scaled scalar, delay and table caps (None = no cap)."""
    level = min(r[2] for r in rows)
    pool = [r for r in rows if not strict or r[2] == level]
    groups = {}
    for r in pool:
        groups.setdefault(r[1], []).append(r)
    chosen = set()
    for host, rs in groups.items():
        caps = [] if budget is None else [budget * _EX_WAVES]
        if _EX_DELAY.get(host, 0.0) > 0:
            caps.append(max(int(60.0 // _EX_DELAY[host]), 1) * _EX_WAVES)
        if host in _EX_HB:
            caps.append(_EX_HB[host] * _EX_WAVES)
        rs.sort(key=lambda r: (r[2], r[3], r[0]))
        chosen |= {r[0] for r in rs[: min(caps) if caps else None]}
    return chosen


class TestScheduleExactness:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        return spark.createDataFrame(
            _ex_rows(),
            "canon_url string, host string, depth int, admission_rank long",
        ).cache()

    @pytest.fixture(scope="class")
    def caps(self, spark):
        rules = RobotsRules(crawl_delay=_EX_DELAY)
        hb = spark.createDataFrame(
            list(_EX_HB.items()), "host string, budget int"
        ).cache()
        return rules, hb

    @pytest.mark.parametrize("strict", [True, False])
    @pytest.mark.parametrize("budget", [None, 2])
    def test_matches_per_group_reference(self, skewed, caps, budget, strict):
        rules, hb = caps
        eligible, carryover, blocked = schedule(
            skewed, budget, rules, salt=4, strict_bfs=strict,
            waves=_EX_WAVES, host_budgets=hb,
        )
        got = {r["canon_url"] for r in eligible.collect()}
        assert got == _reference_schedule(_ex_rows(), budget, strict)
        assert sorted(eligible.columns) == sorted(skewed.columns)
        carry = {r["canon_url"] for r in carryover.collect()}
        assert carry == {r[0] for r in _ex_rows()} - got
        assert blocked.count() == 0

    def test_ties_break_on_canon_url(self, spark):
        """Rows tied on (depth, admission_rank) are taken in ascending
        canon_url order, whatever order they arrive in."""
        rows = [(f"https://t.example/{c}", "t.example", 1, 0) for c in "dbeca"]
        tied = spark.createDataFrame(
            rows, "canon_url string, host string, depth int, admission_rank long"
        ).repartition(3)
        eligible, _, _ = schedule(tied, budget=2, salt=2)
        assert sorted(r["canon_url"] for r in eligible.collect()) == [
            "https://t.example/a", "https://t.example/b"
        ]


class TestBudgetedRoundJobs:
    """Jobs per budgeted round, pinned together with the round metrics
    they must not change: the scheduler tags each frontier row in one
    materialization and the next frontier stays lazy. This crawl ran 81
    jobs over 4 rounds on a 4-core host (128 when the eligible set and
    the next frontier were checkpointed separately)."""

    def test_jobs_per_round_and_metrics(self, spark):
        pages = synthetic_pages(spark, 3000).localCheckpoint(eager=True)
        robots = spark.createDataFrame(
            [("h0.example", ["/d/2"], 0.0), ("h6.example", ["/d/"], 0.0),
             ("h10.example", [], 20.0)],
            "host string, disallow_prefixes array<string>, crawl_delay double",
        )
        eng = CrawlEngine(
            spark, pages, CrawlConfig(depth=1, budget=5, verify_text=False),
            robots=robots,
        )
        sc, group = spark.sparkContext, "budgeted-round-jobs"
        sc.setJobGroup(group, group)
        try:
            res = eng.crawl([f"https://h0.example/d/{i}" for i in range(0, 16, 2)])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        got = [(m.round, m.admitted, m.fetched, m.new_links, m.carryover,
                m.blocked) for m in res.metrics]
        # blocked seed + links, budget carryover, dead links fetched as
        # misses (round 3), a crawl-delay cap
        assert got == [(0, 21, 5, 13, 2, 1), (1, 6, 2, 6, 11, 2),
                       (2, 0, 10, 0, 2, 0), (3, 0, 0, 0, 0, 0)]
        assert n_jobs / len(got) <= 24, f"{n_jobs} jobs over {len(got)} rounds"
