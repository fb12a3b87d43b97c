"""Zero-shuffle fused extraction plan (plans/extract_fused.py): value
and schema identity with the declarative plan, zero-Exchange physical
plan, and scope guards."""

import pytest

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.datagen import mixed_pages_df, pages_df
from page_segmentation_spark.plans.extract import extract
from page_segmentation_spark.plans.extract_fused import extract_fused


def _rows(df):
    return {
        r["url"]: (r["extracted_text"], r["spans"], r["n_nodes"])
        for r in df.collect()
    }


def test_value_identity_html_corpus(spark):
    pages = pages_df(spark, 120, partitions=4).cache()
    try:
        a, b = _rows(extract(pages)), _rows(extract_fused(pages))
        assert a == b
    finally:
        pages.unpersist()


def test_value_identity_mixed_html_pdf(spark):
    mixed = mixed_pages_df(spark, 48).cache()
    try:
        assert _rows(extract(mixed)) == _rows(extract_fused(mixed))
    finally:
        mixed.unpersist()


def test_value_identity_hostile_shapes(spark):
    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.datagen import PAGES_SCHEMA

    rows = [
        dg.hostile_page(shape, i)
        for i, shape in enumerate(
            ("comments", "template", "split_article", "link_dense",
             "cookie_banner", "pagination", "span_soup", "table_layout")
        )
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
    try:
        assert _rows(extract(pages)) == _rows(extract_fused(pages))
    finally:
        pages.unpersist()


def test_schema_names_and_types_identical(spark):
    pages = pages_df(spark, 3, partitions=1)
    a, b = extract(pages).schema, extract_fused(pages).schema
    # simpleString omits nullability flags, which legitimately differ
    # (an agg proves non-null; a kernel schema cannot)
    assert [(f.name, f.dataType.simpleString()) for f in a] == [
        (f.name, f.dataType.simpleString()) for f in b
    ]


def test_plan_has_zero_exchange(spark):
    pages = pages_df(spark, 3, partitions=1)
    plan = (
        extract_fused(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_unknown_span_former_rejected(spark):
    pages = pages_df(spark, 3, partitions=1)
    with pytest.raises(ValueError):
        extract_fused(pages, ExtractSettings(span_former="nope"))


@pytest.mark.parametrize(
    "settings",
    [
        ExtractSettings(architecture="nope"),
        ExtractSettings(post_process=("nope",)),
    ],
    ids=["architecture", "post_process"],
)
def test_unknown_registry_name_raises_before_any_job(spark, settings):
    """A bad architecture or post-processor name fails on the driver
    while the plan is built (as extract does), not in an executor."""
    pages = pages_df(spark, 3, partitions=1)
    sc = spark.sparkContext
    group = f"fused-fail-fast-{settings.architecture}"
    sc.setJobGroup(group, "no job may run")
    try:
        with pytest.raises(KeyError, match="nope"):
            extract_fused(pages, settings)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "post_process",
    [("cc_majority",), ("ccmajority",), ("CC-Majority",), ()],
    ids=["cc_majority", "ccmajority", "CC-Majority", "none"],
)
def test_post_process_aliases_agree_across_engines(spark, post_process):
    """Every alias of the vote runs it in BOTH engines (one shared
    resolver, config.postprocessor_key); the fixture holds pages the
    vote changes (datagen ids 155 and 206), so an engine that skipped
    the vote for an alias would differ here."""
    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.datagen import PAGES_SCHEMA
    from page_segmentation_spark.oracle import extract_document

    s = ExtractSettings(post_process=post_process)
    rows = [dg.make_page(i) for i in range(150, 210)]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
    try:
        want = {}
        for r in rows:
            d = extract_document(r["html"], s)
            want[r["url"]] = (
                d["extracted_text"], [tuple(x) for x in d["spans"]],
                d["n_nodes"],
            )
        for plan in (extract, extract_fused):
            got = {
                u: (t, [tuple(x) for x in sp], n)
                for u, (t, sp, n) in _rows(plan(pages, s)).items()
            }
            assert got == want, plan.__name__
    finally:
        pages.unpersist()
    # fixture guard: the vote changes at least one page here
    unvoted = ExtractSettings(post_process=())
    assert any(
        extract_document(r["html"])["extracted_text"]
        != extract_document(r["html"], unvoted)["extracted_text"]
        for r in rows
    )


@pytest.mark.parametrize("former", ["default", "xycut", "morphological"])
def test_value_identity_every_span_former(spark, former):
    """Fused-plan parity across the whole span-former registry: the
    single-doc cutters (oracle.SPAN_CUTTERS) must reproduce the
    declarative operators byte-for-byte, including on hostile shapes."""
    from page_segmentation_spark import datagen as dg
    from page_segmentation_spark.datagen import PAGES_SCHEMA

    s = ExtractSettings(span_former=former)
    pages = pages_df(spark, 60, partitions=2).cache()
    try:
        assert _rows(extract(pages, s)) == _rows(extract_fused(pages, s))
    finally:
        pages.unpersist()
    rows = [
        dg.hostile_page(shape, i)
        for i, shape in enumerate(
            ("comments", "template", "split_article", "link_dense",
             "cookie_banner", "pagination", "span_soup", "table_layout")
        )
    ]
    hostile = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
    try:
        assert _rows(extract(hostile, s)) == _rows(extract_fused(hostile, s))
    finally:
        hostile.unpersist()


def test_span_cutter_registry_matches_span_formers():
    from page_segmentation_spark.operators.spans import SPAN_FORMERS
    from page_segmentation_spark.oracle import SPAN_CUTTERS

    assert set(SPAN_CUTTERS) == set(SPAN_FORMERS)


def test_architecture_parameter_respected(spark):
    # a non-default architecture flows through the fused kernel and
    # still matches the declarative plan under the same settings
    s = ExtractSettings(architecture="wide_context")
    pages = pages_df(spark, 40, partitions=2).cache()
    try:
        assert _rows(extract(pages, s)) == _rows(extract_fused(pages, s))
    finally:
        pages.unpersist()


def test_fused_markdown_matches_declarative(spark):
    """Zero-shuffle markdown twin: byte-identical to the declarative
    extract_markdown over the synthetic corpus; plan has no Exchange."""
    from page_segmentation_spark.datagen import pages_df
    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.plans.extract import extract_markdown
    from page_segmentation_spark.plans.extract_fused import (
        extract_markdown_fused,
    )

    ship_package(spark)
    pages = pages_df(spark, 30, partitions=3)
    want = {r["url"]: (r["extracted_markdown"], r["n_nodes"])
            for r in extract_markdown(pages).collect()}
    fused = extract_markdown_fused(pages)
    got = {r["url"]: (r["extracted_markdown"], r["n_nodes"])
           for r in fused.collect()}
    assert got == want
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
