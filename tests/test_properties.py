"""Property-based tests (hypothesis) for the pure kernels — no Spark.

These pin the invariants the distributed plans rely on: canonicalization
is idempotent and deterministic, the parse kernel never throws and its
text extraction is a pure function of the bytes, and the bloom filter
never yields false negatives (the H3 exactness precondition)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spider_spark.functions.parse import extract_text, parse_page
from spider_spark.functions.urlkit import CanonURL, canonicalize
from spider_spark.operators.bloom import BloomFilter

url_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1,
    max_size=40,
)


class TestCanonURL:
    @given(host=st.from_regex(r"[a-z][a-z0-9-]{0,20}(\.[a-z]{2,6}){1,2}", fullmatch=True),
           path=st.from_regex(r"(/[A-Za-z0-9._~-]{0,12}){0,4}", fullmatch=True))
    @settings(max_examples=200, deadline=None)
    def test_canonicalize_idempotent(self, host, path):
        url = f"https://{host}{path}"
        once = canonicalize(url)
        assert canonicalize(once) == once

    @given(raw=url_text)
    @settings(max_examples=200, deadline=None)
    def test_seed_never_throws_and_is_stable(self, raw):
        try:
            cu = CanonURL.seed(raw)
        except ValueError:
            return  # stdlib rejects some hostile port/host forms; fine
        assert str(cu) == str(CanonURL.seed(raw))
        assert cu.human_repr() == CanonURL.seed(raw).human_repr()


class TestParseKernel:
    @given(html=st.text(max_size=2000))
    @settings(max_examples=200, deadline=None)
    def test_never_throws_and_deterministic(self, html):
        t1 = parse_page(html)
        t2 = parse_page(html)
        assert t1 == t2
        assert extract_text(html) == t1[2]

    @given(data=st.binary(max_size=2000))
    @settings(max_examples=100, deadline=None)
    def test_arbitrary_bytes_ok(self, data):
        title, hrefs, text = parse_page(data)
        assert isinstance(hrefs, list)
        assert isinstance(text, str)


class TestBloomNoFalseNegatives:
    @given(keys=st.lists(st.integers(min_value=0, max_value=2**63 - 1),
                         min_size=1, max_size=500, unique=True))
    @settings(max_examples=50, deadline=None)
    def test_added_keys_always_contained(self, keys):
        bf = BloomFilter(*BloomFilter.sized_for(len(keys), 0.01))
        h1 = np.array(keys, dtype=np.uint64)
        h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(0x1234567)
        bf.add_many(h1, h2)
        assert bf.contains_many(h1, h2).all()


def _hashes(rng, n):
    h1 = rng.integers(0, 2**63 - 1, size=n, dtype=np.int64).view(np.uint64)
    h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(0x1234567)
    return h1, h2


def _fill(bloom, h1, h2) -> None:
    sh = (h1 % np.uint64(bloom.n_shards)).astype(int)
    for s in range(bloom.n_shards):
        m = sh == s
        bloom.shards[s].add_many(h1[m], h2[m])


class TestBloomGrowthKeepsFpp:
    def test_fpp_stays_near_nominal_at_10x_overrun(self):
        """VERDICT r1 next-3 'done' criterion: with the engine's
        grow-on-saturation rule (ShardedFilter.grown_capacity, applied by
        ShardedFilter.admit: rebuild a same-layout filter at 4× the exact
        running count whenever it would cross capacity), the false
        positive rate stays ≤ 2× nominal even when the key count exceeds
        the original capacity hint 10×. Contrast: the r1 fixed-width
        filter would saturate (~100% maybe-seen) at this overrun."""
        from spider_spark.operators.bloom import ShardedBloom

        fpp = 0.01
        capacity_hint = 1_000
        n_keys = 10 * capacity_hint
        rng = np.random.default_rng(7)
        h1, h2 = _hashes(rng, n_keys)

        bloom = ShardedBloom(capacity_hint, fpp, n_shards=4)
        added = 0
        for start in range(0, n_keys, 500):  # rounds of 500 admissions
            sl = slice(start, start + 500)
            _fill(bloom, h1[sl], h2[sl])  # the fill folded into ranking
            cap = bloom.grown_capacity(500)
            added += 500
            if cap is None:
                bloom.n_items += 500
            else:
                # the engine's rebuild: re-fed from the seen table (here:
                # all added keys)
                bloom = bloom.resized(cap)
                _fill(bloom, h1[:added], h2[:added])
                bloom.n_items = added
        assert bloom.expected >= n_keys  # the filter did grow

        # no false negatives ever
        sh_all = (h1 % np.uint64(bloom.n_shards)).astype(int)
        for s in range(bloom.n_shards):
            m = sh_all == s
            assert bloom.shards[s].contains_many(h1[m], h2[m]).all()
        # fpp on fresh keys ≤ 2× nominal
        f1, f2 = _hashes(np.random.default_rng(99), 20_000)
        fsh = (f1 % np.uint64(bloom.n_shards)).astype(int)
        fp = 0
        for s in range(bloom.n_shards):
            m = fsh == s
            fp += int(bloom.shards[s].contains_many(f1[m], f2[m]).sum())
        assert fp / 20_000 <= 2 * fpp, f"fpp degraded to {fp / 20_000:.4f}"
