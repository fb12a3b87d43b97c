"""Connected-component majority vote + bbox postprocessors (A2/A3).

``vote_connected_component_class`` (reference lib/postprocess.py:9-26)
labels components of the *binary* image and overwrites each component's
prediction with its most frequent class, ties to the lowest class id
(np.argmax(bins[1:])).  1-D analog: a component is a maximal run of
consecutive foreground nodes sharing the same tag (glyph-scale structural
homogeneity; see oracle.cc_majority_vote).

Implemented join-free: per-(cc,class) counts via a window, then a windowed
max over an encoded ``count*4 + (3-class)`` key — max count wins, lowest
class id wins ties.  Both windows are satisfied by the existing ``url``
clustering (only local sorts, no new exchange).

The postprocessor registry mirrors the reference's
(lib/postprocess.py:45-64) so settings name stages the same way.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from page_segmentation_spark.config import postprocessor_key
from page_segmentation_spark.operators.islands import with_islands


def cc_majority(nodes: DataFrame) -> DataFrame:
    """A2: overwrite fg nodes with their component's majority class.

    Single-sort formulation: the previous form windowed over
    (url, cc_id, pred_raw) and (url, cc_id), each needing its own local
    sort of the full node table.  Components are CONTIGUOUS runs in
    node order, so per-component class counts are differences of
    running per-class prefix sums between run boundaries — every window
    here shares the one (url, node_idx) sort the feature stage already
    established.  Per run, count(class c) = prefix_c(run end) -
    prefix_c(run start - 1); both boundary values are carried to every
    member by propagating a struct at run-start rows (max/min over
    running frames).  Majority pick mirrors the oracle loop: max count
    wins, strictly-greater replacement, so ties keep the lowest class
    id.  Output columns and values are identical (cc_id included)."""
    keys = (
        ["is_fg", "tag", "container"]
        if "container" in nodes.columns
        else ["is_fg", "tag"]
    )
    w = Window.partitionBy("url").orderBy("node_idx")
    run_pre = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nxt = w.rowsBetween(1, Window.unboundedFollowing)

    own = {
        c: F.when(
            F.col("is_fg") & (F.col("pred_raw") == c), F.lit(1)
        ).otherwise(F.lit(0))
        for c in (0, 1, 2)
    }
    # layer 1: change-flag lags (exact with_islands semantics) + running
    # and total per-class counts — one Window node, one sort
    df = nodes.select(
        "*",
        *[F.lag(F.col(c)).over(w).alias(f"__cc_lag_{c}") for c in keys],
        *[
            F.sum(own[c]).over(run_pre).alias(f"__cc_rc{c}")
            for c in (0, 1, 2)
        ],
        *[
            F.sum(own[c]).over(run_all).alias(f"__cc_tc{c}")
            for c in (0, 1, 2)
        ],
    )
    change = F.lit(False)
    for c in keys:
        prev = F.col(f"__cc_lag_{c}")
        change = change | prev.isNull() | (~F.col(c).eqNullSafe(prev))
    # at a run-start row, running_count - own == prefix through the
    # previous run's end (the exclusive prefix this run starts from)
    pre_struct = F.when(
        change,
        F.struct(
            F.col("node_idx").alias("i"),
            *[
                (F.col(f"__cc_rc{c}") - own[c]).alias(f"rc{c}")
                for c in (0, 1, 2)
            ],
        ),
    )
    # layer 2: island id (dense, 1-based — with_islands parity) and the
    # run-boundary prefixes: own run start (backward max), next run
    # start (forward min; null for the last run -> totals)
    df = df.select(
        "*",
        F.sum(F.when(change, 1).otherwise(0)).over(run_pre).alias("__cc_id"),
        F.max(pre_struct).over(run_pre).alias("__cc_p"),
        F.min(pre_struct).over(nxt).alias("__cc_f"),
    )
    cnt = {
        c: F.coalesce(
            F.col(f"__cc_f.rc{c}"), F.col(f"__cc_tc{c}")
        )
        - F.col(f"__cc_p.rc{c}")
        for c in (0, 1, 2)
    }
    best = cnt[0]
    win = F.lit(0)
    for c in (1, 2):
        better = cnt[c] > best
        win = F.when(better, F.lit(c)).otherwise(win)
        best = F.when(better, cnt[c]).otherwise(best)
    out = df.select(
        *nodes.columns,
        F.when(F.col("is_fg"), F.col("__cc_id")).alias("cc_id"),
        F.when(F.col("is_fg"), win.cast("int"))
        .otherwise(F.col("pred_raw"))
        .alias("pred"),
    )
    return out


def bounding_boxes(nodes: DataFrame) -> DataFrame:
    """A3 analog of ``add_bounding_boxes`` (reference lib/postprocess.py:
    29-42): for each same-class island, fill its [min,max] node range with
    the class.  In 1-D islands are already contiguous, so this is the
    identity on island members — kept for registry parity and used by the
    spans stage via min/max extent aggregation."""
    col = "pred" if "pred" in nodes.columns else "pred_raw"
    marked = with_islands(nodes, [col], out_col="bbox_cc")
    w = Window.partitionBy("url", "bbox_cc")
    return (
        marked.withColumn("bbox_start", F.min("node_idx").over(w))
        .withColumn("bbox_end", F.max("node_idx").over(w))
    )


def identity(nodes: DataFrame) -> DataFrame:
    col = "pred" if "pred" in nodes.columns else "pred_raw"
    return nodes.withColumn("pred", F.col(col))


#: canonical stage name (config.postprocessor_key) -> stage.
POSTPROCESSORS: Dict[str, Callable[[DataFrame], DataFrame]] = {
    "cc_majority": cc_majority,
    "bounding_boxes": bounding_boxes,
    "none": identity,
}


def find_postprocessor(key: str) -> Callable[[DataFrame], DataFrame]:
    return POSTPROCESSORS[postprocessor_key(key)]
