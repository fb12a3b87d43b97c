"""page_segmentation_spark — a PySpark-native main-content extraction engine.

Re-expresses the per-pixel page-segmentation pipeline of
ocr4all_pixel_classifier (reference: /root/reference, v0.6.5) over web
documents:

    pixel              -> DOM text-block node
    page image         -> parsed HTML
    foreground binary  -> "node has visible text"
    per-pixel class    -> per-node {boilerplate, main, media} class
    connected component-> maximal run of consecutive foreground nodes
    region (XY-cut)    -> contiguous main-content span
    mask output        -> extracted main-content text (byte-exact)

Everything is DataFrame-first: parsing (like every Python per-record
stage) runs Arrow-batched through the one boundary,
:func:`page_segmentation_spark.records.map_records`; features, scoring,
connected components, voting and span formation are pure JVM-side
column/window/groupBy expressions so the hot path never crosses into
per-row Python.
"""

__version__ = "0.1.0"

from page_segmentation_spark.config import (  # noqa: F401
    CLS_BOILER,
    CLS_MAIN,
    CLS_MEDIA,
    ExtractSettings,
)
