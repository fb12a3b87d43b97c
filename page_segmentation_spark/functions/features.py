"""JVM-side feature assembly: normalization stat + multi-scale context.

Re-expresses the reference's normalization (P1, lib/dataset.py:131-150;
A12 char-height, lib/image_ops.py:58-82) and the encoder-decoder's
multi-scale context (P10, lib/model.py:45-92) as pure column/window math —
no Python in this stage, whole-stage-codegen friendly.

Determinism: windowed aggregates are LONG sums (exact in any order); the
per-doc median uses Spark's exact ``percentile`` (same interpolation as
:func:`scorer_core.exact_median`); each feature is a single double op, so
the array is bit-identical to the oracle's
:func:`scorer_core.build_features`.

All windows partition by ``url`` (plus subkeys) — after the first exchange
on ``url`` every later window/groupBy is satisfied by that clustering and
only adds local sorts (verified in tests via ``explain``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from page_segmentation_spark.config import HEADING_TAGS
from page_segmentation_spark.functions import scorer_core as sc


def _tag_flag(tags: frozenset) -> Column:
    return F.when(F.col("tag").isin(*sorted(tags)), F.lit(1.0)).otherwise(F.lit(0.0))


def _col_flag(col: str, values: frozenset) -> Column:
    return F.when(
        F.col(col).isin(*sorted(values)), F.lit(1.0)
    ).otherwise(F.lit(0.0))


def with_features(nodes: DataFrame, arch=None) -> DataFrame:
    """Assemble the ordered feature array (must mirror
    scorer_core.build_features exactly — one double division per feature)."""
    d = lambda c: c.cast("double")  # noqa: E731
    med1 = F.col("char_med") + F.lit(1.0)
    loc_r = sc.LOCAL_RADIUS if arch is None else arch.local_radius
    sec_r = sc.SECTION_RADIUS if arch is None else arch.section_radius
    cap = F.lit(sc.CHARS_NORM_CAP if arch is None else arch.chars_norm_cap)
    feats = F.array(
        F.least(d(F.col("n_chars")) / med1, cap),
        d(F.col("n_link_chars")) / (d(F.col("n_chars")) + F.lit(1.0)),
        d(F.col("n_punct")) / (d(F.col("n_chars")) + F.lit(1.0)),
        d(F.col("n_stop")) / (d(F.col("n_tokens")) + F.lit(1.0)),
        d(F.col("depth")) / F.lit(32.0),
        _tag_flag(sc.TEXT_TAGS),
        _tag_flag(sc.BOILER_TAGS),
        _tag_flag(sc.MEDIA_PRIOR_TAGS),
        d(F.col("n_upper")) / (d(F.col("n_alpha")) + F.lit(1.0)),
        d(F.col("n_digits")) / (d(F.col("n_chars")) + F.lit(1.0)),
        F.least(d(F.col("loc_chars")) / (F.lit(2.0 * loc_r + 1.0) * med1), cap),
        d(F.col("loc_link")) / (d(F.col("loc_chars")) + F.lit(1.0)),
        F.least(d(F.col("sec_chars")) / (F.lit(2.0 * sec_r + 1.0) * med1), cap),
        d(F.col("sec_link")) / (d(F.col("sec_chars")) + F.lit(1.0)),
        d(F.col("doc_link")) / (d(F.col("doc_chars")) + F.lit(1.0)),
        d(F.col("node_idx")) / d(F.col("n_nodes")),
        d(F.col("fwd_link")) / (d(F.col("fwd_chars")) + F.lit(1.0)),
        d(F.col("bwd_link")) / (d(F.col("bwd_chars")) + F.lit(1.0)),
        _tag_flag(HEADING_TAGS),
        _col_flag("container", sc.MAIN_CONTAINERS),
        _col_flag("container", sc.BOILER_CONTAINERS),
    )
    return nodes.withColumn("features", feats)


def featurize(nodes: DataFrame, arch=None) -> DataFrame:
    """Full feature stage: doc stats + context sums -> feature array.
    ``arch`` selects a named architecture's radii/cap (None = base).

    All twelve window columns are emitted from ONE select over one
    (url, node_idx)-ordered window spec: the analyzer groups same
    partition+order expressions into a single Window node (frames may
    differ), so the whole stage is one local sort + one pass — the
    per-column ``withColumn`` form planned five Window nodes and two
    sorts.  The per-document aggregates use unbounded frames of the
    ORDERED window: sum/count/percentile over the full partition are
    order-insensitive, so the order adds nothing to their values."""
    loc_r = sc.LOCAL_RADIUS if arch is None else arch.local_radius
    sec_r = sc.SECTION_RADIUS if arch is None else arch.section_radius
    dir_r = sc.DIRECTIONAL_RADIUS if arch is None else arch.directional_radius
    w = Window.partitionBy("url").orderBy("node_idx")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    loc = w.rowsBetween(-loc_r, loc_r)
    sec = w.rowsBetween(-sec_r, sec_r)
    fwd = w.rowsBetween(1, dir_r)
    bwd = w.rowsBetween(-dir_r, -1)
    z = F.lit(0).cast("long")
    staged = nodes.select(
        "*",
        F.coalesce(
            F.expr(
                "percentile(CASE WHEN is_fg THEN n_chars END, 0.5)"
            ).over(full),
            F.lit(0.0),
        ).alias("char_med"),
        F.sum("n_chars").over(full).alias("doc_chars"),
        F.sum("n_link_chars").over(full).alias("doc_link"),
        F.count(F.lit(1)).over(full).alias("n_nodes"),
        F.sum("n_chars").over(loc).alias("loc_chars"),
        F.sum("n_link_chars").over(loc).alias("loc_link"),
        F.sum("n_chars").over(sec).alias("sec_chars"),
        F.sum("n_link_chars").over(sec).alias("sec_link"),
        F.coalesce(F.sum("n_chars").over(fwd), z).alias("fwd_chars"),
        F.coalesce(F.sum("n_link_chars").over(fwd), z).alias("fwd_link"),
        F.coalesce(F.sum("n_chars").over(bwd), z).alias("bwd_chars"),
        F.coalesce(F.sum("n_link_chars").over(bwd), z).alias("bwd_link"),
    )
    return with_features(staged, arch)
