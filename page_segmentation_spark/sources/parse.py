"""Spark parse stage: pages -> exploded DOM-node table.

The analog of ``DatasetLoader.load_images`` + ``prepare_images``
(reference lib/dataset.py:131-198): the *shared* pure-Python parser
(:func:`page_segmentation_spark.page_parse.parse_page`) run per page
through :func:`page_segmentation_spark.records.map_records`, so Spark
output and oracle output agree byte-for-byte.  The reference's
``multiprocessing.Pool(12, maxtasksperchild=100)`` (lib/dataset.py:195)
becomes Spark task parallelism; the worker-recycling analog is the Arrow
batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame

from page_segmentation_spark.config import MAX_NODES_PER_DOC
from page_segmentation_spark.html_parse import NODE_FIELDS
from page_segmentation_spark.page_parse import parse_page
from page_segmentation_spark.records import map_records

_NODE_DDL = (
    "node_idx long, tag string, container string, depth int, "
    "text string, "
    "is_fg boolean, n_chars long, n_tokens long, n_link_chars long, "
    "n_punct long, n_digits long, n_upper long, n_alpha long, n_stop long"
)
NODE_SCHEMA = "url string, " + _NODE_DDL

#: the row of a page with no nodes: zero-node documents survive the
#: groupBy without a (broadcast-unfriendly) re-join of 10^12 urls;
#: filtered from n_nodes by node_idx >= 0
_SENTINEL = (-1, "", "", 0, "", False, 0, 0, 0, 0, 0, 0, 0, 0)


def parse_pages(
    pages: DataFrame,
    max_nodes: int = MAX_NODES_PER_DOC,
    pdf_password: str = "",
) -> DataFrame:
    """(url, html, ...) -> node table.  Column-pruned input: only url+html
    cross the Arrow channel (Catalyst prunes the parquet scan to these two
    columns — check ReadSchema in explain)."""
    row = itemgetter(*NODE_FIELDS)

    def nodes(html):
        recs = parse_page(html, max_nodes=max_nodes, pdf_password=pdf_password)
        return map(row, recs) if recs else (_SENTINEL,)

    return map_records(pages, ["url"], "html", nodes, _NODE_DDL)
