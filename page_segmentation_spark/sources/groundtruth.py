"""Ground-truth annotation ingestion (S5/S7/P12/P13/J5 analogs).

The reference ingests PageXML ground truth: namespace/version autodetect,
XPath over typed regions, points-string decode, polygon rasterization to
label masks (reference lib/pagexml.py:44-265).  The graft ingests an
annotation-XML column describing labeled node spans per document:

    <annotation>
      <region type="paragraph" spans="3,9 14,20"/>
      <region type="ad" spans="10,13"/>
    </annotation>

* XML parse is a pure per-document function run through the shared
  per-record kernel (:func:`page_segmentation_spark.records.map_records`;
  stdlib xml.etree standing in for lxml) — S5.
* The 19-type -> {background, text, image} collapse
  (reference lib/pagexml.py:66-129) becomes the REGION_TYPE_CLASS map.
* ``string_to_points`` (P12, reference lib/pagexml.py:161-167) is pure
  column math: transform(split(...)).
* ``label_nodes`` rasterizes spans onto nodes via a range join (J5/P13).
* ``write_labels`` materializes the label table (S7 MaskGenerator.save).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.config import CLS_BOILER, CLS_MAIN, CLS_MEDIA
from page_segmentation_spark.records import map_records

#: region-type collapse — the text_nontext MaskSetting analog
#: (reference lib/pagexml.py:95-112: 19 PageXML region types -> 3 classes)
REGION_TYPE_CLASS = {
    "paragraph": CLS_MAIN,
    "heading": CLS_MAIN,
    "caption": CLS_MAIN,
    "text": CLS_MAIN,
    "image": CLS_MEDIA,
    "graphic": CLS_MEDIA,
    "table": CLS_MEDIA,
    "maths": CLS_MEDIA,
    "ad": CLS_BOILER,
    "nav": CLS_BOILER,
    "footer": CLS_BOILER,
    "header": CLS_BOILER,
    "background": CLS_BOILER,
}

_GT_SPAN_VALUES = (
    "region_type string, label int, span_start long, span_end long"
)
GT_SPAN_SCHEMA = "url string, " + _GT_SPAN_VALUES


def annotation_spans(xml: Optional[str]) -> List[Tuple[str, int, int, int]]:
    """One annotation document -> [(region_type, label, span_start,
    span_end)]; empty or malformed annotations give no rows."""
    if not xml:
        return []
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []  # malformed annotation -> no GT for this url
    out = []
    for region in root.iter("region"):
        rtype = region.get("type", "background")
        label = REGION_TYPE_CLASS.get(rtype, CLS_BOILER)
        for span in (region.get("spans") or "").split():
            try:
                s, e = span.split(",")
                s_i, e_i = int(s), int(e)
            except ValueError:
                continue
            out.append((rtype, label, s_i, e_i))
    return out


def parse_annotations(df: DataFrame, xml_col: str = "labels_xml") -> DataFrame:
    """(url, labels_xml) -> one row per ground-truth span (S5),
    GT_SPAN_SCHEMA."""
    return map_records(df, ["url"], xml_col, annotation_spans, _GT_SPAN_VALUES)


#: PAGE-XML region-element/type collapse (the reference's 19-type map,
#: lib/pagexml.py:66-129, re-derived from the public PRImA PAGE schema):
#: element name decides media/boilerplate; TextRegion@type splits main
#: text from furniture.
PAGEXML_TEXT_TYPE_CLASS = {
    "paragraph": CLS_MAIN,
    "heading": CLS_MAIN,
    "caption": CLS_MAIN,
    "drop-capital": CLS_MAIN,
    "floating": CLS_MAIN,
    "other": CLS_MAIN,
    "header": CLS_BOILER,
    "footer": CLS_BOILER,
    "page-number": CLS_BOILER,
    "marginalia": CLS_BOILER,
    "footnote": CLS_BOILER,
    "footnote-continued": CLS_BOILER,
    "endnote": CLS_BOILER,
    "catch-word": CLS_BOILER,
    "signature-mark": CLS_BOILER,
    "credit": CLS_BOILER,
    "TOC-entry": CLS_BOILER,
}
PAGEXML_REGION_CLASS = {
    "TextRegion": None,  # resolved via @type
    "ImageRegion": CLS_MEDIA,
    "GraphicRegion": CLS_MEDIA,
    "ChartRegion": CLS_MEDIA,
    "TableRegion": CLS_MEDIA,
    "MathsRegion": CLS_MEDIA,
    "SeparatorRegion": CLS_BOILER,
    "NoiseRegion": CLS_BOILER,
    "AdvertRegion": CLS_BOILER,
    "UnknownRegion": CLS_BOILER,
}

_PAGEXML_VALUES = (
    "region_idx int, region_id string, region_kind string, "
    "region_type string, label int, n_lines long, text string, "
    "points string, line_start long, line_end long"
)
PAGEXML_SCHEMA = "url string, " + _PAGEXML_VALUES


def _pagexml_ns(root) -> str:
    """Namespace/version autodetect (reference lib/pagexml.py:44-54
    analog): the PcGts root carries the versioned PAGE namespace; absent
    namespaces (stripped fixtures) fall back to ''."""
    tag = root.tag
    if tag.startswith("{"):
        return tag[1: tag.index("}")]
    return ""


def pagexml_regions(xml: Optional[str]) -> List[tuple]:
    """One PAGE-XML document -> one tuple per region in _PAGEXML_VALUES
    order: the collapsed 3-class label, Coords points string, region
    text (TextEquiv/Unicode, region-level or line-joined), and the 1-D
    line span [line_start, line_end] from cumulative TextLine counts in
    reading order.  Malformed documents give no rows."""
    if not xml:
        return []
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []
    ns = _pagexml_ns(root)
    q = (lambda t: f"{{{ns}}}{t}") if ns else (lambda t: t)
    if root.tag not in (q("PcGts"), "PcGts"):
        return []
    out = []
    line_cursor = 0
    for page in root.iter(q("Page")):
        for region in page:
            kind = region.tag.rsplit("}", 1)[-1]
            if kind not in PAGEXML_REGION_CLASS:
                continue
            rtype = region.get("type", "") or ""
            label = PAGEXML_REGION_CLASS[kind]
            if label is None:  # TextRegion: @type decides
                label = PAGEXML_TEXT_TYPE_CLASS.get(rtype, CLS_MAIN)
            coords = region.find(q("Coords"))
            points = coords.get("points", "") if coords is not None else ""
            lines = region.findall(q("TextLine"))
            line_texts = []
            for ln in lines:
                te = ln.find(q("TextEquiv"))
                uni = te.find(q("Unicode")) if te is not None else None
                if uni is not None and uni.text:
                    line_texts.append(uni.text)
            rte = region.find(q("TextEquiv"))
            runi = rte.find(q("Unicode")) if rte is not None else None
            text = (
                runi.text if runi is not None and runi.text
                else " ".join(line_texts)
            )
            n_lines = len(lines)
            out.append((
                len(out),
                region.get("id", ""),
                kind,
                rtype,
                label,
                n_lines,
                text,
                points,
                line_cursor if n_lines else -1,
                line_cursor + n_lines - 1 if n_lines else -1,
            ))
            line_cursor += n_lines
    return out


def parse_pagexml(df: DataFrame, xml_col: str = "pagexml") -> DataFrame:
    """S5, real PageXML shape: (url, pagexml) -> one row per region
    (PAGEXML_SCHEMA, :func:`pagexml_regions`) — the node-granularity GT
    this engine rasterizes (each TextLine is one node of a line-based
    node table).  Stdlib ElementTree; malformed documents contribute no
    rows (never fail a batch)."""
    return map_records(df, ["url"], xml_col, pagexml_regions, _PAGEXML_VALUES)


def pagexml_gt_spans(regions: DataFrame) -> DataFrame:
    """Adapt parse_pagexml output to the GT span contract consumed by
    :func:`label_nodes` (line-based node tables: node_idx == line idx)."""
    return regions.where(F.col("line_start") >= 0).select(
        "url",
        F.coalesce(
            F.nullif(F.col("region_type"), F.lit("")), F.col("region_kind")
        ).alias("region_type"),
        "label",
        F.col("line_start").alias("span_start"),
        F.col("line_end").alias("span_end"),
    )


def string_to_points(col: Column) -> Column:
    """P12: '"x,y x,y ..."' -> array<struct<x:int, y:int>>
    (reference lib/pagexml.py:161-167)."""
    return F.transform(
        F.split(F.trim(col), " "),
        lambda p: F.struct(
            F.split(p, ",").getItem(0).cast("int").alias("x"),
            F.split(p, ",").getItem(1).cast("int").alias("y"),
        ),
    )


def label_nodes(
    nodes: DataFrame, gt_spans: DataFrame, default_label: int = CLS_BOILER
) -> DataFrame:
    """P13/J5: rasterize GT spans onto the node table via a range join;
    nodes outside every span get the background label.  Overlapping spans
    resolve to the lowest label id (deterministic, matching first-max
    argmax discipline)."""
    spans = gt_spans.select(
        F.col("url").alias("g_url"),
        F.col("label").alias("g_label"),
        "span_start",
        "span_end",
    )
    joined = nodes.join(
        spans,
        (nodes.url == spans.g_url)
        & nodes.node_idx.between(
            spans.span_start, spans.span_end
        ),
        "left",
    )
    return (
        joined.groupBy(*[nodes[c] for c in nodes.columns])
        .agg(F.min("g_label").alias("gt_label"))
        .withColumn(
            "gt_label",
            F.coalesce(F.col("gt_label"), F.lit(default_label)).cast("int"),
        )
    )


def write_labels(labels: DataFrame, path: str) -> None:
    """S7: materialize the ground-truth label table."""
    labels.select("url", "node_idx", "gt_label").write.mode(
        "overwrite"
    ).parquet(path)


def filter_region_types(gt_spans: DataFrame, types) -> DataFrame:
    """F3: ``PageRegions.only_types`` analog (reference
    lib/pagexml.py:142-145) — keep only ground-truth regions of the
    given types."""
    return gt_spans.where(F.col("region_type").isin(*list(types)))
