"""The workloads' output checks agree with the engine on a tiny corpus."""

import pytest

from crawlbench import oracles
from crawlbench.workloads import FrontierBulk, PoliteBudgeted

N = 400


@pytest.fixture(scope="module")
def pages(spark):
    from spider_spark.sources.pages import synthetic_pages

    return synthetic_pages(spark, N, partitions=2).localCheckpoint(eager=True)


class TinyPolite(PoliteBudgeted):
    DEPTH = 1
    BUDGET = 12
    WAVES = 1


def test_oracles_agree_on_the_admitted_set():
    seeds = [3, 10, 57, 58]
    reach = oracles.reach(seeds, N, 2)
    ranked = oracles.ranked(seeds, N, 2)
    assert {(u, d) for u, d, _, _ in reach} == {(u, d) for u, d, _ in ranked}
    assert sorted(r for _, _, r in ranked) == list(range(len(ranked)))
    assert {(u, d) for u, d, _, _ in reach if d == 0} == {
        (f"https://h{0 if i % 2 == 0 else 1 + i % 19}.example/d/{i}", 0)
        for i in seeds}


@pytest.mark.parametrize("cls", [FrontierBulk, TinyPolite])
def test_engine_output_passes_the_check(cls, spark, pages):
    w = cls(seed=11, n_pages=N)
    w.prepare(spark, pages)
    out = w.run()
    w.expect()
    assert out.fetched > 0
    assert w.check(out) is None


def test_check_reports_a_wrong_output(spark, pages):
    w = FrontierBulk(seed=11, n_pages=N)
    w.prepare(spark, pages)
    out = w.run()
    w.expect()
    w.want_ranks = {(u, d, r + 1) for u, d, r in w.want_ranks}
    assert "admission ranks" in w.check(out)
