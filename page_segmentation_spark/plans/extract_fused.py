"""Zero-shuffle fused extraction plan (the scale-path alternate of
:mod:`page_segmentation_spark.plans.extract`).

The declarative plan explodes pages into a node table, runs windowed
features/scoring/voting/span formation, and re-groups by url — ONE
``Exchange hashpartitioning`` whose only job is to reassemble nodes the
parse kernel already emitted contiguously per page.  Measured on the
scaling harness (BENCH/BASELINE.md round 4), that JVM shuffle+window
stage is the pipeline's scaling floor (~0.37 N->4N on one socket; it
sorts+shuffles ~2 GB of node rows per 120k pages) while the Python
parse stage scales linearly (1.06).

This plan deletes the Exchange entirely: every per-document operator
(parse -> features -> scorer fold -> CC majority vote -> span cut ->
ordered concat) is data-parallel at the DOCUMENT grain, so one Arrow
stage (:func:`page_segmentation_spark.records.map_records`) runs the
whole chain per page via the SHARED single-document implementation
(:func:`oracle.extract_document` — the same ``page_parse`` /
``scorer_core`` / span semantics the declarative plan mirrors;
byte-identity between the two plans is pinned by tests and the
``extract_fused_flagship`` catalog row).

The corpus funnel (plans/training_corpus.py) always extracts through
this plan.  Trade-offs (why the declarative plan stays for node-level
work):

* no exploded node table — downstream per-node analytics (metrics,
  debug overlays, GT joins) want the declarative plan's intermediate;
* per-task peak memory holds one document's nodes plus its text
  (bounded by ``max_nodes_per_doc``, same guard as the node table);
* giant-page skew lands on single tasks — the declarative plan's
  salting applies only to its exploded stages.  At the crawl grain
  (many pages per task, pages capped) this is immaterial.

Scale shape: scan -> one ArrowEval stage -> sink.  No shuffle, no sort,
no aggregation; linear in input bytes and embarrassingly parallel at
any executor count — the plan shape a 1000-executor crawl job wants.

Reference analog: the reference's predict loop is exactly this fusion —
one in-process chain per page (reference scripts/predict.py,
lib/predictor.py:34-87) — re-expressed here as a single Arrow stage
instead of a driver loop.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from page_segmentation_spark.config import ExtractSettings, postprocessor_key
from page_segmentation_spark.records import map_records


def _fused(
    pages: DataFrame,
    settings: ExtractSettings | None,
    extract_one: Callable,
    text_field: str,
) -> DataFrame:
    """``extract_one`` (an oracle single-document chain) per page ->
    (url, text_field, spans, n_nodes), field-for-field identical to the
    declarative plan's output
    (test_extract_fused.test_schema_names_and_types_identical).  Every
    registry name the chain looks up is resolved here, so a bad setting
    raises on the driver, not in an executor."""
    from page_segmentation_spark.functions.architectures import (
        find_architecture,
    )
    from page_segmentation_spark.oracle import SPAN_CUTTERS

    settings = settings or ExtractSettings()
    if settings.span_former not in SPAN_CUTTERS:
        raise ValueError(
            f"unknown span_former {settings.span_former!r}: "
            f"{sorted(SPAN_CUTTERS)}"
        )
    find_architecture(settings.architecture)
    for name in settings.post_process:
        postprocessor_key(name)

    def extract(html):
        r = extract_one(html or b"", settings)
        return ((r[text_field], r["spans"], r["n_nodes"]),)

    return map_records(
        pages,
        ["url"],
        "html",
        extract,
        f"{text_field} string, "
        "spans array<struct<start:bigint,end:bigint,n_main:bigint>>, "
        "n_nodes bigint",
    )


def extract_fused(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """Fused single-stage extraction -> (url, extracted_text, spans,
    n_nodes), byte-identical to :func:`plans.extract.extract` for the
    same settings.  Supports every architecture AND every registered
    span former: the shared single-document chain dispatches through
    ``oracle.SPAN_CUTTERS`` (default / xycut / morphological — the
    single-doc twins of operators.spans.SPAN_FORMERS), so the crawl
    path accepts the same configs as the declarative plan."""
    from page_segmentation_spark.oracle import extract_document

    return _fused(pages, settings, extract_document, "extracted_text")


def extract_markdown_fused(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """Zero-shuffle markdown extraction — the fused twin of
    plans/extract.extract_markdown: one Arrow stage calling
    oracle.extract_document_markdown per page (which reuses the plain
    extraction's selected nodes and the shared MD_PREFIXES map), so
    crawl-scale jobs get structured output at fused-plan throughput.
    Output: (url, extracted_markdown, spans, n_nodes)."""
    from page_segmentation_spark.oracle import extract_document_markdown

    return _fused(
        pages, settings, extract_document_markdown, "extracted_markdown"
    )
