"""Capture .explain("formatted") for the headline bench queries into
plans/r06/<name>_<tag>.txt (tag = before/after).  Plans are captured on
FRESH un-executed frames (AQE re-prints executed stages per QueryStage —
CLAUDE.md gotcha), using the same session shape as bench.py.

Usage: python tools/capture_plans.py <tag> [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
os.environ.setdefault("SPARK_DRIVER_MEM", "48g")


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from page_segmentation_spark.queries import (
        QUERIES,
        pages_from_documents,
        pdf_pages_from_documents,
    )
    from page_segmentation_spark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    spark = get_spark(
        app="pss-plan-capture", master=f"local[{CPUS}]",
        shuffle_partitions=4 * CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.plans.extract_fused import extract_fused
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )
    from page_segmentation_spark.sources.warc import read_warc

    corpus = bench.corpus_path(spark, 30000)
    pages = spark.read.parquet(corpus)
    warc_dir = bench.warc_corpus_path(5000, n_files=CPUS)

    def warc_extract():
        pages_w = read_warc(spark, warc_dir).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
        return extract(pages_w)

    BUILDERS = {
        "extract_synthetic": lambda: extract(pages),
        "extract_fused": lambda: extract_fused(pages),
        "extract_testdata": lambda: extract(
            pages_from_documents(spark, SF_DIR)
        ),
        "extract_warc_ingest": warc_extract,
        "extract_pdf": lambda: extract(
            pdf_pages_from_documents(spark, SF_DIR)
        ),
        "corpus_build_fused": lambda: build_training_corpus(pages),
        "dedup_minhash_lsh": lambda: QUERIES["dedup_minhash_lsh"](
            spark, SF_DIR
        ),
        "dedup_paragraphs": lambda: QUERIES["dedup_paragraphs"](
            spark, SF_DIR
        ),
        "sim_cosine_topk": lambda: QUERIES["sim_cosine_topk"](spark, SF_DIR),
        "w1_islands": lambda: QUERIES["w1_islands"](spark, SF_DIR),
        "a2_vote": lambda: QUERIES["a2_vote"](spark, SF_DIR),
        "dedup_span_scrub": lambda: QUERIES["dedup_span_scrub"](
            spark, SF_DIR
        ),
    }

    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name, build in BUILDERS.items():
        if only and name not in only:
            continue
        df = build()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange ")
        print(f"{name}: {len(plan)} chars, {n_ex} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
