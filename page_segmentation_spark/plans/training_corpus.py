"""End-to-end training-corpus construction — the composed pipeline.

The C4/RefinedWeb/FineWeb recipe as ONE declarative Spark plan over
crawl pages of the input-hint shape (url, warc_ts, html, text, lang):

    extract (main-content, byte-identical to the oracle)
      -> C4 line filtering        (functions/text.c4_line_filter)
      -> Gopher document rules    (functions/text.gopher_quality)
      -> language ID / token count / content fingerprint
      -> exact dedup (keep min-url per fingerprint)

Scale shape at 10^12 documents: extraction is the zero-shuffle fused
plan (plans/extract_fused — one Arrow stage, byte-identical to the
declarative plan per url); C4, Gopher, language ID, token counting, and
fingerprinting are all zero-shuffle Catalyst projections fused into the
same stage; the ONLY shuffle in the whole corpus build is the dedup
hash partition on the 16-hex-char fingerprint (narrow rows:
fingerprints + urls).  Every filter drops rows BEFORE the dedup
shuffle, so the expensive exchange sees only surviving documents.

Determinism: gate decisions are made on unrounded values; the dedup
keeps the lexicographic-min url per fingerprint (same total order in
Spark and ANSI SQL); no first()/rand() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.functions.text import (
    c4_line_filter,
    fingerprint,
    gopher_quality,
    with_lang_id,
)
from page_segmentation_spark.plans.extract_fused import extract_fused


def corpus_features(
    pages: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """The STATELESS part of the funnel — extraction, C4 and Gopher
    filters, language ID, token count, and content fingerprint, one row
    per surviving document (url, lang, n_tokens, content_fp,
    clean_text), duplicates still present.

    Shared verbatim by the batch plan (:func:`build_training_corpus`
    adds the fingerprint-window dedup) and the streaming plan
    (``streaming.corpus_stream.stream_training_corpus`` adds stateful
    cross-batch first-seen dedup); every stage here is stream-safe (one
    Arrow stage + projections, zero shuffle)."""
    return _funnel_from_extracted(extract_fused(pages), c4_opts, gopher_opts)


def corpus_features_from_text(
    docs: DataFrame,
    text_col: str = "text",
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """The same stateless funnel over ALREADY-EXTRACTED text — the WET
    input shape (``sources.warc.read_wet``): Common Crawl publishes
    extracted plain text alongside raw captures, and a corpus built
    from it skips the parse/extract stage entirely.  Every downstream
    stage (C4, Gopher, lang ID, tokens, fingerprint, dedup) is
    IDENTICAL code to the pages path, so WET-built and HTML-built
    corpora cannot drift in filter semantics."""
    ext = docs.select("url", F.col(text_col).alias("extracted_text"))
    return _funnel_from_extracted(ext, c4_opts, gopher_opts)


def _funnel_from_extracted(
    ext: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """C4 -> Gopher -> lang ID / tokens / fingerprint over an
    (url, extracted_text) table — the shared tail of both input paths
    (zero-shuffle Catalyst projections, fused into the upstream stage).

    Both gate filters sit behind a :func:`pushdown_barrier`: without it
    PushDownPredicates substitutes ``page_kept``/``keep`` through every
    projection and the merged Filter re-computes the C4 line chain ~40x
    per row (the r06 before-plan); with the barrier each gate expression
    is evaluated exactly once and the filters test plain attributes."""
    from page_segmentation_spark.functions.staging import pushdown_barrier

    # cross-operator staging reuse (both exact by construction):
    #   * C4 emits its kept-lines array; gopher's bullet/ellipsis line
    #     signals take it via lines_col instead of re-splitting the
    #     clean_text it was just joined into (clean_text ==
    #     array_join(kept, '\n'), no element contains '\n');
    #   * gopher's staged padded-lower (__pss_g_padded) IS the padded
    #     lowered text with_lang_id's step (1) would rebuild — emit it
    #     through extra_cols and pass it as padded_col, so the
    #     pad/lower pass over every surviving document runs once.
    c4 = c4_line_filter(
        ext, "url", "extracted_text",
        emit_lines="__pss_f_lines", **(c4_opts or {}),
    )
    c4 = pushdown_barrier(c4, ["clean_text", "page_kept"])
    page_kept = c4.where(F.col("page_kept") == 1)
    g = gopher_quality(
        page_kept,
        "url",
        "clean_text",
        extra_cols=("clean_text", "__pss_g_padded"),
        lines_col="__pss_f_lines",
        **(gopher_opts or {}),
    )
    g = pushdown_barrier(g, ["keep"])
    # n_words is gopher's whitespace token count — the SAME expression
    # token_count() would rebuild over the same clean_text (split of the
    # trimmed text on \s+, blank -> 0, cast long), so reuse it instead
    # of re-splitting every surviving document.
    survivors = g.where(F.col("keep") == 1).select(
        "url", "clean_text", "n_words", "__pss_g_padded"
    )
    # staged lang ID (with_lang_id docstring: 5-7x over the inline form)
    return with_lang_id(
        survivors, "clean_text", padded_col="__pss_g_padded"
    ).select(
        "url",
        "lang",
        F.col("n_words").alias("n_tokens"),
        fingerprint(F.col("clean_text")).alias("content_fp"),
        "clean_text",
    )


def build_training_corpus(
    pages: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
    dedup: bool = True,
    neardup: bool = False,
    neardup_opts: dict | None = None,
    from_text: bool = False,
) -> DataFrame:
    """Run the full corpus-construction funnel over crawl pages.

    ``from_text=True`` treats ``pages`` as WET-shaped input — (url,
    text) with extraction already done (``sources.warc.read_wet``) —
    and skips the extract stage; all filters/dedup stages are the same
    code objects as the pages path.

    Returns one row per SURVIVING document:
    (url, lang, n_tokens, content_fp, clean_text).  Input urls must be
    unique: extraction is the zero-shuffle fused plan
    (plans/extract_fused), which keeps one row per page — pages sharing
    a url are NOT merged — and the dedup below relies on url being a
    row key.

    ``c4_opts`` / ``gopher_opts`` are keyword overrides for the two
    filter stages (see their docstrings for rule parameters); pass
    ``dedup=False`` to keep exact duplicates (e.g. when a later
    MinHash/SimHash pass owns dedup).  The dedup fingerprint partition
    is the funnel's ONLY Exchange — the 1000-executor crawl shape.

    ``neardup=True`` appends the full near-duplicate pass after exact
    dedup: MinHash-LSH candidates verified by exact n-gram Jaccard
    (``neardup_opts`` forwards to
    :func:`operators.dedup.lsh_verified_pairs`), connected components
    over the surviving pair graph, and min-url-representative selection
    — the RefinedWeb/FineWeb two-stage dedup.  Batch-only (iterative
    label propagation); the streaming funnel stops at exact dedup."""
    if from_text:
        out = corpus_features_from_text(
            pages, c4_opts=c4_opts, gopher_opts=gopher_opts
        )
    else:
        out = corpus_features(pages, c4_opts, gopher_opts)
    if dedup:
        # keep the min-url row per fingerprint via ONE struct-min
        # aggregation (url leads the struct, so lexicographic struct
        # order == url order; url is unique per row, so this selects
        # exactly the rows the previous min-over-window + self-filter
        # kept).  Unlike the window form, the aggregate partially
        # reduces duplicates MAP-SIDE before the exchange — at crawl
        # scale the shuffle then carries one candidate per (fingerprint,
        # map partition) instead of every duplicate row.
        rest = [c for c in out.columns if c != "content_fp"]
        cols = list(out.columns)
        agg = out.groupBy("content_fp").agg(
            F.min(F.struct(*[F.col(c) for c in rest])).alias("_keep")
        )
        out = agg.select(
            "content_fp", *[F.col(f"_keep.{c}").alias(c) for c in rest]
        ).select(*cols)
    if neardup:
        out = neardup_representatives(out, neardup_opts)
    return out


def neardup_representatives(
    out: DataFrame,
    neardup_opts: dict | None = None,
    url_col: str = "url",
    text_col: str = "clean_text",
) -> DataFrame:
    """The RefinedWeb/FineWeb near-duplicate pass over a (url,
    clean_text, ...) corpus: MinHash-LSH candidates verified by exact
    n-gram Jaccard, connected components over the surviving pair
    graph, keep the min-url representative per component.  Shared by
    the batch funnel (``build_training_corpus(neardup=True)``) and the
    streaming sink compactor (``streaming.corpus_stream.compact_corpus``)
    so the two paths cannot drift."""
    from page_segmentation_spark.operators.components import (
        connected_components,
    )
    from page_segmentation_spark.operators.dedup import (
        lsh_verified_pairs,
    )

    # lineage barrier: the pair builder and the label table both
    # re-reference the funnel subtree (and would recompute it up to
    # 3x); the lazy localCheckpoint replaces it with an
    # executor-persisted scan, same discipline as
    # connected_components' own per-round truncation.
    out = out.localCheckpoint(eager=False)
    # Catalyst's Union constraint rewrite throws an internal
    # AttributeMap key-not-found when the funnel's constraints meet
    # the label-propagation unions; constraint propagation is an
    # optimizer nicety the iterative stage does not need, so switch
    # it off while these plans are ANALYZED (each localCheckpoint
    # analyzes eagerly) and restore afterwards.
    spark = out.sparkSession
    _ckey = "spark.sql.constraintPropagation.enabled"
    _prev = spark.conf.get(_ckey, "true")
    spark.conf.set(_ckey, "false")
    try:
        pairs = lsh_verified_pairs(
            out, url_col, text_col, **(neardup_opts or {})
        ).localCheckpoint(eager=False)
        labels = connected_components(
            out.select(url_col), pairs, id_col=url_col
        ).localCheckpoint(eager=False)
    finally:
        spark.conf.set(_ckey, _prev)
    return out.join(
        labels.where(F.col("id") == F.col("label")).select(
            F.col("id").alias(url_col)
        ),
        url_col,
        "left_semi",
    )
