"""Budgeted crawl-ordering determinism against an independent reference.

The north rule requires matching crawl ordering under the same seed list
and politeness budget. The engine's order contract is: strict-BFS rounds,
per-host top-(waves×budget) by (depth, admission_rank), new admissions
ranked densely by (depth, parent_rank, link_pos). This test re-implements
that contract as a ~50-line pure-Python simulator over the arithmetic
link graph (children 2i+1, 3i+2 mod n, one dead link per page — no engine
code shared) and compares EVERY url's admission rank and fetch round."""

import pytest
from pyspark.sql import functions as F

from spider_spark.plans.crawl import CrawlConfig, CrawlEngine
from spider_spark.sources.pages import synthetic_pages


def simulate(n, seed_id, depth, budget, waves=1):
    """Reference scheduler: returns ({url: admission_rank},
    {url: fetch_round}) for the budgeted strict-BFS crawl."""
    def host(i):
        return "h0.example" if i % 2 == 0 else f"h{1 + i % 19}.example"

    def url(i):
        return (f"https://{host(i)}/d/{i}" if i < n
                else f"https://dead.example/d/{i - n}")

    # frontier entries: (id, depth, rank); id >= n ≡ dead url
    seen = {seed_id: 0}
    ranks = {url(seed_id): 0}
    fetch_round = {}
    frontier = [(seed_id, 0, 0)]
    next_rank, r = 1, 0
    k = budget * waves
    while frontier:
        level = min(d for _, d, _ in frontier)
        by_host = {}
        for e in sorted(frontier, key=lambda e: (e[1], e[2])):
            if e[1] == level:
                by_host.setdefault(host(e[0]) if e[0] < n else "dead.example",
                                   []).append(e)
        eligible = [e for es in by_host.values() for e in es[:k]]
        chosen = {e[0] for e in eligible}
        carry = [e for e in frontier if e[0] not in chosen]
        links = []  # (child_depth, parent_rank, link_pos, child_id)
        for i, d, rk in eligible:
            fetch_round[url(i)] = r
            if i < n and d < depth:  # dead urls and depth-capped never expand
                # document order in the page is c1, dead, c2 (the
                # query-string self-link and no-href anchor are dropped by
                # the parse filters; c1's repeat dedupes intra-page).
                # link_pos is the index in the FILTERED link list, so the
                # seed filter shifts later positions.
                children = [
                    c for c in [(2 * i + 1) % n, n + i, (3 * i + 2) % n]
                    if c != seed_id
                ]
                for pos, c in enumerate(children):
                    links.append((d + 1, rk, pos, c))
        # intra-round min-dedupe then seen gate, rank by (depth, prank, pos)
        best = {}
        for tup in sorted(links):
            cid = tup[3]
            if cid not in best:
                best[cid] = tup
        new = []
        for tup in sorted(best.values()):
            d, prk, pos, cid = tup
            if cid in seen:
                continue
            seen[cid] = d
            ranks[url(cid)] = next_rank
            new.append((cid, d, next_rank))
            next_rank += 1
        frontier = new + carry
        r += 1
    return ranks, fetch_round


N = 60


@pytest.mark.parametrize("budget,waves", [(2, 1), (2, 2), (1, 3)])
def test_budgeted_order_matches_reference(spark, budget, waves):
    pages = synthetic_pages(spark, N).localCheckpoint(eager=True)
    eng = CrawlEngine(
        spark, pages,
        CrawlConfig(depth=4, budget=budget, waves=waves, verify_text=False),
    )
    res = eng.crawl("https://h0.example/d/0")
    got_ranks = {
        r["url"]: r["admission_rank"]
        for r in res.results.select("url", "admission_rank").collect()
    }
    got_rounds = {
        r["url"]: r["crawl_round"]
        for r in res.results.select("url", "crawl_round").collect()
    }
    exp_ranks, exp_rounds = simulate(N, 0, 4, budget, waves)
    assert got_ranks == exp_ranks
    assert got_rounds == exp_rounds
