"""Regenerate PLANS.md: formatted physical plans for the scale-critical
operators. The properties shown are pinned as tests in tests/test_plans.py.

Each section this script captures replaces the PLANS.md section of the same
title (or is appended); every other section of the file is left as is."""

from __future__ import annotations

import io
import pathlib
import re
import sys
from contextlib import redirect_stdout

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import spider_spark.plans.crawl as crawl_mod  # noqa: E402
from spider_spark.operators.dedupe import minhash_signatures  # noqa: E402
from spider_spark.operators.similarity import cosine_topk  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402
from spider_spark.sources.pages import synthetic_pages  # noqa: E402


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    synthetic_pages(spark, 200).write.mode("overwrite").parquet(
        "/tmp/plan_pages.parquet"
    )

    sections: list[tuple[str, str, str]] = []

    def cap(title: str, note: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        sections.append((title, note, buf.getvalue()))

    pages = spark.read.parquet("/tmp/plan_pages.parquet").select(
        F.col("url").alias("canon_url"), "html"
    )
    frontier = spark.createDataFrame(
        [("https://h0.example/d/0", "h0.example", 0, "s", "p", 0, 0)],
        "canon_url string, host string, depth int, seed string, parent string, "
        "admission_rank long, round_admitted int",
    )
    cap(
        "Fetch-join (broadcast frontier, corpus never shuffled)",
        "The 100 TB side feeds the BroadcastHashJoin probe side directly from "
        "the parquet scan — no Exchange above it; ReadSchema carries only "
        "url+html (column pruning).",
        pages.join(F.broadcast(frontier), on="canon_url", how="inner"),
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap(
        "MinHash signatures (single doc-keyed shuffle, map-side partial mins)",
        "One Exchange hashpartitioning(doc_id); the 32 permutation mins fold "
        "map-side in the partial HashAggregate; whole-stage codegen spans the "
        "shingle explode and hashing — no Python anywhere.",
        minhash_signatures(docs),
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cap(
        "ANN cosine top-k (broadcast queries, two-stage rank)",
        "Corpus scan stays map-side (queries broadcast); the per-partition "
        "row_number prunes to k rows per partition before the single "
        "per-query exchange — no global sort.",
        cosine_topk(emb, emb.filter(F.col("vec_id") < 2), k=3),
    )

    # a default crawl round's seen gate: capture the ranking input of the
    # second round (its seen side is a union of checkpointed deltas)
    rank_inputs = []
    rank = crawl_mod.with_global_rank

    def spy(df, *args, **kwargs):
        rank_inputs.append(df)
        return rank(df, *args, **kwargs)

    crawl_mod.with_global_rank = spy
    try:
        crawl_mod.CrawlEngine(
            spark, synthetic_pages(spark, 300).localCheckpoint(eager=True),
            crawl_mod.CrawlConfig(depth=2, verify_text=False),
        ).crawl("https://h0.example/d/0")
    finally:
        crawl_mod.with_global_rank = rank
    cap(
        "Crawl seen gate (one exact anti-join, folded into the ranking job)",
        "The ranking input of a default round (the second): the min-depth "
        "dedupe's Exchange hashpartitioning(canon_url) already places the "
        "candidates, so the LeftAnti SortMergeJoin adds no Exchange on the "
        "candidate side and one on the seen side (a union of checkpointed "
        "deltas). No Python evaluation node: the parse kernel ran in the "
        "round's fetch checkpoint (the Scan ExistingRDD). A bloom prefilter "
        "ahead of the join could save no shuffle here.",
        rank_inputs[1],
    )

    # durable-mode seen anti-join: bucketed catalog table on the seen side
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = spark.range(0, 2000).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("canon_url")
        )
        (
            seen.write.format("parquet").mode("overwrite")
            .bucketBy(32, "canon_url").sortBy("canon_url")
            .saveAsTable("plans_seen_bucketed")
        )
        cand = spark.range(0, 100).select(
            F.concat(F.lit("u"), (F.col("id") * 7).cast("string"))
            .alias("canon_url")
        )
        cap(
            "Durable seen-set anti-join (bucketed seen scan, no Exchange over it)",
            "Durable mode reads seen membership through the TableIO bucketed "
            "key mirror (tableio.read_bucketed_keys, synced O(delta) from the "
            "manifest). The left_anti SortMergeJoin "
            "exchanges ONLY the candidate delta into the 32-bucket layout; "
            "the accumulated seen scan (SelectedBucketsCount: 32 of 32) feeds "
            "the join in place — at 10^10 seen URLs that is the difference "
            "between shuffling gigabytes per round and shuffling only the "
            "round's links.",
            cand.join(
                spark.table("plans_seen_bucketed"), on="canon_url",
                how="left_anti",
            ),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.sql("DROP TABLE IF EXISTS plans_seen_bucketed")

    path = REPO / "PLANS.md"
    text = path.read_text() if path.exists() else (
        "# PLANS — formatted physical plans for the scale-critical operators\n\n"
        "Generated by `.explain('formatted')` (regenerate: "
        "`python tools/dump_plans.py`).\n"
        "The properties asserted here are pinned as regression tests in "
        "`tests/test_plans.py`.\n\n"
    )
    for title, note, plan in sections:
        block = f"## {title}\n\n{note}\n\n```\n{plan}\n```\n\n"
        section = re.compile(rf"^## {re.escape(title)}\n.*?(?=^## |\Z)",
                             re.S | re.M)
        if section.search(text):
            text = section.sub(lambda _: block, text, count=1)
        else:
            text = text.rstrip("\n") + "\n\n" + block
    path.write_text(text.rstrip("\n") + "\n")


if __name__ == "__main__":
    main()
