"""Stage-semantics pins for the composed driver pipelines (the contract
hash proves equality with the mirror; these make the semantics visible)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def curated(spark, sf_dir):
    return entry._q_web_curation(spark, sf_dir).cache()


class TestWebCuration:
    def test_no_blocked_hosts_survive(self, spark, sf_dir, curated):
        from spider_spark.operators.blocklist import host_of

        from spider_spark.sources.pages import url_expr

        hosts = {
            r["h"]
            for r in curated.select(
                host_of(url_expr(F.col("doc_id"))).alias("h")
            ).distinct().collect()
        }
        assert hosts and not any(
            h == d or h.endswith("." + d)
            for h in hosts
            for d in entry.BLOCKED_DOMAINS
        )

    def test_only_head_middle_buckets(self, curated):
        assert {r["bucket"] for r in curated.select("bucket").distinct().collect()} <= {
            "head", "middle"
        }

    def test_every_survivor_passes_structural_gopher(self, spark, sf_dir, curated):
        from spider_spark.functions.text import gopher_rules

        rules = gopher_rules(entry._docs(spark, sf_dir))
        joined = curated.join(rules, on="doc_id")
        bad = joined.filter(
            ~(
                F.col("word_count_ok") & F.col("mean_word_len_ok")
                & F.col("symbol_ratio_ok") & F.col("bullet_ok")
                & F.col("ellipsis_ok") & F.col("alpha_words_ok")
            )
        ).count()
        assert bad == 0

    def test_no_non_keeper_exact_dups(self, spark, sf_dir, curated):
        from spider_spark.functions.text import normalized_text
        from spider_spark.operators.dedupe import exact_duplicates

        docs = entry._docs(spark, sf_dir)
        fp = docs.select(
            "doc_id", F.md5(normalized_text(F.col("text"))).alias("fingerprint")
        )
        non_keepers = (
            fp.join(exact_duplicates(docs), on="fingerprint")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id")
        )
        assert curated.join(non_keepers, on="doc_id", how="left_semi").count() == 0

    def test_subset_of_corpus_and_nonempty(self, spark, sf_dir, curated):
        docs = entry._docs(spark, sf_dir).select("doc_id")
        n = curated.count()
        assert 0 < n <= docs.count()
        assert curated.join(docs, on="doc_id", how="left_anti").count() == 0


class TestTrainingMixSemantic:
    def test_stage_fires_and_schema_stable(self, spark, sf_dir):
        base = entry._q_training_mix(spark, sf_dir)
        sem = entry._q_training_mix_semantic(spark, sf_dir)
        assert base.columns == sem.columns
        b = {tuple(r) for r in base.collect()}
        s = {tuple(r) for r in sem.collect()}
        # the embedding corpus contains near-dups (18 removals at sf0.001),
        # so the semantic stage must actually change the mix
        assert b != s

    def test_no_semantically_removed_doc_in_clean_set(self, spark, sf_dir):
        from spider_spark.operators.semdedup import semdedup_flags

        removed = semdedup_flags(
            entry._embeddings(spark, sf_dir),
            threshold=entry.NEAR_DUP_THRESHOLD, n_centroids=8,
        ).filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        surv = entry._docs(spark, sf_dir).join(
            entry._q_corpus_survivors(spark, sf_dir).select("doc_id"),
            on="doc_id", how="left_semi",
        ).join(removed, on="doc_id", how="left_anti")
        # the stage input (post-lexical, post-semantic survivors) is
        # disjoint from the removed set by construction; pin it visibly
        assert surv.join(removed, on="doc_id", how="left_semi").count() == 0
        assert surv.count() > 0


class TestWebCurationSemantic:
    @pytest.fixture(scope="class")
    def sem_curated(self, spark, sf_dir):
        return entry._q_web_curation_semantic(spark, sf_dir).cache()

    @pytest.fixture(scope="class")
    def sem_flags(self, spark, sf_dir):
        return entry._q_text_semdedup(spark, sf_dir).cache()

    def test_semantic_stage_fires_on_fixture(self, sem_flags):
        # the fixture corpus contains hashed-vector near-dups, so the stage
        # is exercised, not vacuous
        assert sem_flags.filter(~F.col("kept")).count() > 0

    def test_no_semantically_removed_doc_survives(self, sem_curated, sem_flags):
        removed = sem_flags.filter(~F.col("kept")).select("doc_id")
        assert sem_curated.join(removed, "doc_id", "left_semi").count() == 0

    def test_every_doc_has_a_verdict_row(self, spark, sf_dir, sem_flags):
        # hashed vectors exist for every doc (empty text still hashes to the
        # one empty-string word), and none cancel to zero on this corpus —
        # so the verdict table covers the corpus exactly
        docs = entry._docs(spark, sf_dir).select("doc_id")
        assert sem_flags.count() == docs.count()

    def test_nonempty_and_gates_still_hold(self, spark, sf_dir, sem_curated):
        from spider_spark.functions.text import gopher_rules

        assert sem_curated.count() > 0
        rules = gopher_rules(entry._docs(spark, sf_dir))
        bad = sem_curated.join(rules, on="doc_id").filter(
            ~(
                F.col("word_count_ok") & F.col("mean_word_len_ok")
                & F.col("symbol_ratio_ok") & F.col("bullet_ok")
                & F.col("ellipsis_ok") & F.col("alpha_words_ok")
            )
        ).count()
        assert bad == 0


class TestUrlAliasClusters:
    @pytest.fixture(scope="class")
    def clusters(self, spark, sf_dir):
        return entry._q_url_alias_clusters(spark, sf_dir).cache()

    def test_cross_signal_merge(self, clusters):
        """doc 3 (≡3 mod 8, ≡0 mod 3, ≡3 mod 5): its dirty tracking
        variant and its redirect chain 3→2→1→0 must land in ONE cluster
        — scrub and redirect edges share the url(3) node."""
        got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
        u3 = "https://h4.example/d/3"
        dirty3 = u3 + "?utm_source=feed&gclid=x"
        u0 = "https://h0.example/d/0"
        assert got[dirty3] == got[u3] == got[u0]
        # cluster id is the lexicographic min member
        assert got[u0] <= u0

    def test_cycle_members_never_enter(self, clusters):
        """redirect hop edges only exist for ids ≡1,2,3 mod 8 — acyclic
        by construction; the ok-filter is what admits them. No NULL ids."""
        assert clusters.filter(
            F.col("url").isNull() | F.col("cluster_id").isNull()
        ).count() == 0


class TestImportanceTieredSchedule:
    @pytest.fixture(scope="class")
    def kept(self, spark, sf_dir):
        return entry._q_importance_tiered_schedule(spark, sf_dir).cache()

    def test_tiers_are_trust_rank_quartiles(self, spark, sf_dir, kept):
        # Derive the expected tier per host from the TrustRank scores
        # directly: sort hosts by (trust asc, node), quartile by rank.
        from spider_spark.operators.graph import trustrank

        seeds = (
            entry._docs(spark, sf_dir)
            .filter(F.col("doc_id") % 7 == 3)
            .select(entry.host_expr(F.col("doc_id")).alias("node"))
            .distinct()
        )
        tr = trustrank(
            entry._host_edges_df(spark, sf_dir), seeds,
            n_iter=entry.TRUST_ITERS,
        ).collect()
        ordered = sorted((r["trust_fp"], r["node"]) for r in tr)
        n = len(ordered)
        expected = {
            node: 3 - (r * 4) // n for r, (_, node) in enumerate(ordered)
        }
        got = {r["host"]: r["tier"] for r in kept.collect()}
        assert got  # cap keeps rows from at least the top tier
        for host, tier in got.items():
            assert tier == expected[host], host

    def test_cap_takes_tier_first(self, kept):
        # Kept rows must be the global top-TIER_CAP by (tier, depth,
        # admission, url): no kept row may be outranked by a dropped one,
        # so the max kept tier bounds what tiers appear at all.
        rows = kept.collect()
        assert len(rows) == entry.TIER_CAP
        keys = sorted(
            (r["tier"], r["depth"], r["admission_rank"], r["canon_url"])
            for r in rows
        )
        # the kept set is contiguous from the smallest key upward — its
        # sorted sequence must equal itself (sanity) and tiers must be
        # non-decreasing with no gaps below the max kept tier
        tiers = [k[0] for k in keys]
        assert tiers == sorted(tiers)
        assert set(range(tiers[0], tiers[-1] + 1)) >= set(tiers)


class TestDriverWindow:
    """Spark-free: ``queries()`` only builds the registry dict."""

    def test_missing_window_names_all_reported(self, monkeypatch):
        monkeypatch.setattr(
            entry, "_DRIVER_WINDOW",
            ["crawl_results", "no_such_query", "also_missing"],
        )
        with pytest.raises(ValueError) as ei:
            entry.queries()
        msg = str(ei.value)
        assert "no_such_query" in msg and "also_missing" in msg
        assert "crawl_results" not in msg


class TestJoinedLists:
    def test_engines_render_lists_alike(self, spark):
        """List outputs joined into one string read the same on Spark and
        DuckDB: NULL elements skipped, an empty list '', a NULL list NULL."""
        import duckdb

        lists = [["a", None, "b"], [], [None], None, ["only"]]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(lists)],
                                   "i int, l array<string>")
        got = {r["i"]: r["s"] for r in
               df.select("i", entry._joined(F.col("l")).alias("s")).collect()}
        con = duckdb.connect()
        want = {
            i: con.execute(
                f"SELECT {entry._joined_sql('l')} FROM (SELECT ?::VARCHAR[] AS l)",
                [v],
            ).fetchone()[0]
            for i, v in enumerate(lists)
        }
        assert got == want == {0: "a\x1eb", 1: "", 2: "", 3: None, 4: "only"}
