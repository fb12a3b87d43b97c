"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ...}

The extraction corpus is synthesized deterministically (datagen seed 42)
to parquet once per (n, seed) and then *read from disk* like a production
pages table, so timings measure the pipeline, not generation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# single-JVM local mode: heap must scale with concurrent task buffers or
# the high-parallelism run spills/GCs (same tuning as tools/bench_scaling)
os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
#: synthetic extraction corpus size per unit sf (sf0.1 -> 30k pages)
PAGES_PER_SF = 300_000
CACHE_ROOT = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/pss_bench_cache")


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def corpus_path(spark, n_pages: int) -> str:
    path = os.path.join(CACHE_ROOT, f"pages_n{n_pages}_seed42")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from page_segmentation_spark.datagen import write_pages

        write_pages(spark, path, n_pages, seed=42, partitions=CPUS * 4)
    return path


def warc_corpus_path(n_pages: int, n_files: int = 8) -> str:
    """Deterministic WARC rendering of the first ``n_pages`` datagen pages
    (per-record gzip members, Common-Crawl layout), split over
    ``n_files`` files — cached like the parquet corpus."""
    path = os.path.join(CACHE_ROOT, f"warc_n{n_pages}_f{n_files}_seed42")
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        from page_segmentation_spark.datagen import make_page
        from page_segmentation_spark.sources.warc import build_warc

        os.makedirs(path, exist_ok=True)
        per = (n_pages + n_files - 1) // n_files
        for f_idx in range(n_files):
            ids = range(f_idx * per, min((f_idx + 1) * per, n_pages))
            recs = []
            for i in ids:
                p = make_page(i)
                recs.append(
                    {
                        "url": p["url"],
                        "ts": "2024-01-01T00:00:00Z",
                        "body": p["html"],
                    }
                )
            with open(os.path.join(path, f"part-{f_idx:03d}.warc.gz"), "wb") as f:
                f.write(build_warc(recs))
        with open(marker, "w") as f:
            f.write("ok")
    return path


def materialize(df) -> int:
    """Force full execution through the noop sink; return row count from a
    cheap second action on the (small) result."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")
    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.queries import QUERIES, pages_from_documents
    from page_segmentation_spark.session import get_spark

    # 4x shuffle partitions smooths tail stragglers (same as bench_scaling)
    spark = get_spark(
        app="pss-bench", master=master, shuffle_partitions=4 * CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = sf_of(SF_DIR)
    n_pages = max(1000, int(PAGES_PER_SF * sf))
    corpus = corpus_path(spark, n_pages)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # q1: flagship synthetic-corpus extraction (the headline).
    # The metric is steady-state throughput: at 100 TB a job runs for
    # hours and JIT/codegen/python-worker spin-up amortizes to nothing,
    # but in a fresh local JVM the same job speeds up ~3x over the first
    # few iterations as C2 compilation kicks in.  Methodology (exactly
    # what the code below does): a FIXED 4-run warm-up, then the median
    # of 5 measured runs (median, not best — this shared VM shows
    # sporadic 2x spikes mid-sequence, so a run-over-run convergence
    # heuristic is unreliable and a fixed count + median is used).
    pages = spark.read.parquet(corpus)
    for _ in range(4):
        materialize(extract(pages))
    measured = []
    for _ in range(5):
        t0 = time.perf_counter()
        materialize(extract(pages))
        measured.append(time.perf_counter() - t0)
    timings["extract_synthetic"] = round(sorted(measured)[2], 3)
    extras["extract_synthetic_runs"] = [round(m, 3) for m in measured]
    extras["docs_per_sec"] = round(n_pages / timings["extract_synthetic"], 1)
    extras["n_pages"] = n_pages

    # q1b: the ZERO-SHUFFLE fused plan over the SAME corpus (alternate
    # scale path, plans/extract_fused.py — one mapInArrow stage, no
    # Exchange; byte-identical output, pinned by test_extract_fused and
    # the extract_fused_flagship driver row).  Same warm-up+median
    # protocol as the declarative flagship.
    from page_segmentation_spark.plans.extract_fused import extract_fused

    for _ in range(2):
        materialize(extract_fused(pages))
    fused_runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        materialize(extract_fused(pages))
        fused_runs.append(time.perf_counter() - t0)
    timings["extract_fused"] = round(sorted(fused_runs)[2], 3)
    extras["extract_fused_runs"] = [round(m, 3) for m in fused_runs]
    extras["fused_docs_per_sec"] = round(
        n_pages / timings["extract_fused"], 1
    )

    # q2-q6: the non-flagship queries get the same treatment at smaller
    # scale — 1 warm-up run excluded, median of 3 measured (they run in
    # ~1-3s each on a box with ±40% spikes; single-shot numbers were not
    # stable across bench invocations)
    from page_segmentation_spark.queries import pdf_pages_from_documents

    def timed_median(build) -> float:
        materialize(build())  # warm-up
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(build())
            runs.append(time.perf_counter() - t0)
        return round(sorted(runs)[1], 3)

    timings["extract_testdata"] = timed_median(
        lambda: extract(pages_from_documents(spark, SF_DIR))
    )
    # crawl-ingest path: WARC files (per-record gzip members) -> record
    # parse -> full extraction; 5k pages over 8 files = file-grain tasks
    from pyspark.sql import functions as SF

    from page_segmentation_spark.sources.warc import read_warc

    warc_dir = warc_corpus_path(5000, n_files=CPUS)

    def warc_extract():
        pages_w = read_warc(spark, warc_dir).select(
            "url", "warc_ts", "html",
            SF.lit(None).cast("string").alias("text"),
            SF.lit(None).cast("string").alias("lang"),
        )
        return extract(pages_w)

    timings["extract_warc_ingest"] = timed_median(warc_extract)
    extras["warc_ingest_docs_per_sec"] = round(
        5000 / timings["extract_warc_ingest"], 1
    )
    # the same pipeline over PDF byte streams (format dispatch path)
    timings["extract_pdf"] = timed_median(
        lambda: extract(pdf_pages_from_documents(spark, SF_DIR))
    )
    # the COMPOSED corpus-construction funnel (extract -> C4 -> Gopher ->
    # langid/tokens/fingerprint -> exact dedup) over the same synthetic
    # corpus, fused extraction: one Exchange total (the dedup key)
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    timings["corpus_build_fused"] = timed_median(
        lambda: build_training_corpus(pages)
    )
    extras["corpus_build_docs_per_sec"] = round(
        n_pages / timings["corpus_build_fused"], 1
    )
    for name in (
        "dedup_minhash_lsh",
        "dedup_paragraphs",
        "sim_cosine_topk",
        "w1_islands",
        "a2_vote",
    ):
        timings[name] = timed_median(
            lambda name=name: QUERIES[name](spark, SF_DIR)
        )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **extras,
                "cpus": CPUS,
                "master": master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
