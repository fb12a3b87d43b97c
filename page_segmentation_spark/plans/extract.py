"""The flagship extraction plan — the reference's predict lifecycle
(SURVEY.md §3.1) as one lazy DataFrame chain:

    read pages -> map_records(parse) -> featurize -> score
      -> post_process chain (cc vote, ...) -> spans -> ordered concat
      -> (url, extracted_text, spans, n_nodes)

Scale properties (designed for a 1000-executor / 100 TB run):
  * exactly ONE exchange after the parse stage: the first window shuffles
    on ``url``; every later window/groupBy is keyed by (url, ...) and is
    satisfied by that clustering (local sorts only) — verified by test
    asserting a single Exchange in the physical plan;
  * parse is embarrassingly parallel over input splits (no shuffle before
    it) and column-pruned to (url, html);
  * giant pages are bounded by the parse-time node cap
    (max_width analog, reference lib/dataset.py:139-143) so one url always
    fits one task; AQE handles residual skew;
  * final per-document concat is an ``array_sort(collect_list(...))`` over
    struct(node_idx, text): deterministic bytes under ANY partitioning
    (reference's ordered-imap determinism, lib/dataset.py:196).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.functions.features import featurize
from page_segmentation_spark.functions.scorer import score
from page_segmentation_spark.operators.spans import SPAN_FORMERS
from page_segmentation_spark.operators.vote import find_postprocessor, identity
from page_segmentation_spark.sources.parse import parse_pages

RESULT_SCHEMA = (
    "url string, extracted_text string, "
    "spans array<struct<start:long,end:long,n_main:long>>, n_nodes long"
)


def classified_nodes(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """pages -> node table with pred (post-vote) — stages 1-5."""
    from page_segmentation_spark.functions.architectures import (
        find_architecture,
    )

    settings = settings or ExtractSettings()
    arch = find_architecture(settings.architecture)
    nodes = parse_pages(
        pages,
        max_nodes=settings.max_nodes_per_doc,
        pdf_password=settings.pdf_password,
    )
    nodes = score(featurize(nodes, arch), arch)
    if settings.post_process:
        for name in settings.post_process:
            nodes = find_postprocessor(name)(nodes)
    else:
        nodes = identity(nodes)
    return nodes


def _assemble(
    pages: DataFrame,
    settings: ExtractSettings | None,
    node_text: Column,
    out_name: str,
) -> DataFrame:
    """Classified/spanned node table grouped back to one row per url:
    (url, out_name, spans, n_nodes), where ``out_name`` is the ordered
    separator-join of ``node_text`` (a per-node column named ``text``)
    over the selected nodes."""
    settings = settings or ExtractSettings()
    nodes = classified_nodes(pages, settings)
    spanned = SPAN_FORMERS[settings.span_former](nodes, settings)

    text_structs = F.when(
        F.col("selected"),
        F.struct(F.col("node_idx"), node_text),
    )
    span_structs = F.when(
        F.col("in_kept_span"),
        F.struct(
            F.col("span_start").alias("start"),
            F.col("span_end").alias("end"),
            F.col("span_main").alias("n_main"),
        ),
    )
    # zero-node documents are present via the parser's sentinel row
    # (node_idx = -1): no re-join of 10^12 urls needed, the groupBy covers
    # every document and the sentinel contributes nothing but the url.
    return spanned.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(text_structs)),
                lambda x: x.getField("text"),
            ),
            settings.separator,
        ).alias(out_name),
        F.array_sort(F.array_distinct(F.collect_list(span_structs))).alias(
            "spans"
        ),
        F.count(F.when(F.col("node_idx") >= 0, F.lit(1))).alias("n_nodes"),
    )


def extract(pages: DataFrame, settings: ExtractSettings | None = None) -> DataFrame:
    """Full pipeline -> (url, extracted_text, spans, n_nodes).

    Documents whose HTML yields zero nodes (empty body) still appear, with
    extracted_text = '' — the oracle contract."""
    return _assemble(pages, settings, F.col("text"), "extracted_text")


def extract_markdown(
    pages: DataFrame, settings: ExtractSettings | None = None
) -> DataFrame:
    """Markdown-structured extraction: the SAME classified/spanned node
    selection as :func:`extract` (one shared subplan — same single
    Exchange, zero extra shuffles), but each selected node renders
    through the shared tag-prefix map
    (functions/markdown.MD_PREFIXES — the one source of truth the
    oracle's extract_document_markdown also reads) before the ordered
    join.  Output: (url, extracted_markdown, spans, n_nodes)."""
    from page_segmentation_spark.functions.markdown import md_prefix_expr

    return _assemble(
        pages,
        settings,
        F.concat(md_prefix_expr(F.col("tag")), F.col("text")).alias("text"),
        "extracted_markdown",
    )
