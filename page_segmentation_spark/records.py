"""The per-record kernel: one value in, zero or more typed rows out.

Every decoder in the engine that turns one binary/XML cell into rows —
media feature extraction (operators/multimodal), ground-truth XML
ingestion (sources/groundtruth), the media fixtures of the driver
catalog — is a pure per-record function.  This module owns the one
Arrow-batched Spark boundary they all run through, the analog of the
reference's single per-record loader (``DatasetLoader.load_images`` run
by one pool, reference lib/dataset.py:160-198).

``mapInArrow`` (not ``mapInPandas``) for the same reason as the parse
stage (sources/parse.py): no pandas round trip on either side of the
worker, and a Python ``None`` becomes SQL NULL with no dtype inference.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def map_records(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    fn: Callable[[object], Iterable[tuple]],
    value_ddl: str,
) -> DataFrame:
    """Run ``fn(value)`` once per row of ``df[key_cols + [value_col]]``.

    ``fn`` returns an iterable of value tuples (one per output row, in
    ``value_ddl`` column order); each becomes the row ``keys + tuple``.
    An empty iterable drops the record.  The output schema is the key
    columns' types from ``df.schema`` followed by ``value_ddl``.  ``fn``
    must be picklable by reference or closure (executors import the
    package from the shipped zip)."""
    keys = list(key_cols)
    schema = StructType(
        [df.schema[k] for k in keys] + DataType.fromDDL(value_ddl).fields
    )
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            key_rows = zip(*(batch.column(k).to_pylist() for k in keys))
            values = batch.column(value_col).to_pylist()
            rows = [
                ids + out
                for ids, value in zip(key_rows, values)
                for out in fn(value)
            ]
            cols = zip(*rows) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(col, type=field.type)
                    for col, field in zip(cols, arrow_schema)
                ],
                schema=arrow_schema,
            )

    return df.select(*keys, value_col).mapInArrow(kernel, schema=schema)
