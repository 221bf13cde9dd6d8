"""Regenerate PLANS.md: formatted physical plans for the scale-critical
operators. The properties shown are pinned as tests in tests/test_plans.py."""

from __future__ import annotations

import io
import pathlib
import sys
from contextlib import redirect_stdout

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

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
            "key mirror (tableio.read_bucketed_keys). The left_anti SortMergeJoin "
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

    with open(REPO / "PLANS.md", "w") as f:
        f.write(
            "# PLANS — formatted physical plans for the scale-critical operators\n\n"
        )
        f.write(
            "Generated by `.explain('formatted')` (regenerate: "
            "`python tools/dump_plans.py`).\n"
        )
        f.write(
            "The properties asserted here are pinned as regression tests in "
            "`tests/test_plans.py`.\n\n"
        )
        for title, note, plan in sections:
            f.write(f"## {title}\n\n{note}\n\n```\n{plan}\n```\n\n")


if __name__ == "__main__":
    main()
