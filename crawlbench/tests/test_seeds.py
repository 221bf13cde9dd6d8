"""The workload seed picks the crawl seeds and nothing else."""

from crawlbench.workloads import WORKLOADS, corpus_key


def test_seed_changes_the_seed_set():
    for cls in WORKLOADS.values():
        a, b = cls(1), cls(2)
        assert a.seed_ids != b.seed_ids
        assert len(a.seed_ids) == len(set(a.seed_ids)) == a.n_seeds()


def test_same_seed_same_seed_set():
    for cls in WORKLOADS.values():
        assert cls(7).seed_ids == cls(7).seed_ids


def test_corpus_does_not_depend_on_the_seed():
    # the corpus cache key is a function of the generator alone
    key = corpus_key()
    for cls in WORKLOADS.values():
        cls(3)
        assert corpus_key() == key
    assert all(cls(1).n == cls(2).n for cls in WORKLOADS.values())
