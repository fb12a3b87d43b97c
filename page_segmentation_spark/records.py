"""The per-record kernel: one value in, zero or more typed rows out.

Every ungrouped Python stage of the engine is a pure per-record
function — the HTML/PDF parse (sources/parse), the fused
single-document chain (plans/extract_fused), the WARC record parser
(sources/warc), the gram hash (operators/dedup), the BPE encoder
(functions/bpe), media feature extraction (operators/multimodal),
ground-truth XML ingestion (sources/groundtruth), the page generators
(datagen) and the query-catalog fixtures.  This module owns the one Arrow-batched Spark boundary
they all run through, the analog of the reference's single per-record
loader (``DatasetLoader.load_images`` run by one pool, reference
lib/dataset.py:160-198).

``mapInArrow`` (not ``mapInPandas``): no pandas round trip on either
side of the worker, and a Python ``None`` becomes SQL NULL with no dtype
inference.  Output is columnar — each row's values are appended to
per-column lists — and bounded: a RecordBatch is flushed every
``FLUSH_RECORDS`` rows or ``FLUSH_BYTES`` of string/binary payload,
checked after every row, so also in the middle of one record's fan-out
(one WARC file inflates to many GB of records).
"""

from __future__ import annotations

from itertools import repeat
from typing import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

#: flush the output RecordBatch when accumulated string/binary payload
#: reaches this (string/binary arrays carry 32-bit offsets, hard cap
#: 2 GiB per array; a ~1 GB crawl .warc.gz inflates past that, so ONE
#: batch per input file would raise ArrowCapacityError).  Strings count
#: characters, at most 4 UTF-8 bytes each, so a flushed array stays
#: far below the cap.
FLUSH_BYTES = 256 * 1024 * 1024
FLUSH_RECORDS = 65_536


def record_batches(
    batches: Iterator[pa.RecordBatch],
    key_cols: Sequence[str],
    value_col: str,
    fn: Callable[[object], Iterable[Sequence]],
    arrow_schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """The kernel :func:`map_records` runs: ``fn(value)`` per input row,
    each of its rows prefixed by the row's ``key_cols`` values and
    appended to per-column lists, emitted as ``arrow_schema``
    RecordBatches.

    The bounds are checked after every row, so a batch holds at most
    ``FLUSH_RECORDS`` rows and exceeds ``FLUSH_BYTES`` by at most its
    last row.  Every input batch's rows are flushed before the next is
    read; an input that yields no row at all still yields one empty,
    schema-bearing batch."""
    max_rows, max_bytes = FLUSH_RECORDS, FLUSH_BYTES
    n_keys = len(key_cols)
    sized = [
        i
        for i, f in enumerate(arrow_schema)
        if pa.types.is_string(f.type) or pa.types.is_binary(f.type)
    ]
    key_sized = [i for i in sized if i < n_keys]
    val_sized = [i - n_keys for i in sized if i >= n_keys]
    cols: list[list] = [[] for _ in arrow_schema]
    key_apps = [c.append for c in cols[:n_keys]]
    val_apps = [c.append for c in cols[n_keys:]]
    n_rows = n_bytes = 0
    emitted = False

    def flush() -> pa.RecordBatch:
        nonlocal n_rows, n_bytes, emitted
        out = pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        for c in cols:
            c.clear()
        n_rows = n_bytes = 0
        emitted = True
        return out

    for batch in batches:
        keys = (
            zip(*(batch.column(k).to_pylist() for k in key_cols))
            if n_keys
            else repeat(())
        )
        values = batch.column(value_col).to_pylist()
        for ids, value in zip(keys, values):
            key_bytes = sum(len(ids[i] or "") for i in key_sized)
            for row in fn(value):
                for app, k in zip(key_apps, ids):
                    app(k)
                for app, v in zip(val_apps, row):
                    app(v)
                n_rows += 1
                n_bytes += key_bytes
                for i in val_sized:
                    if row[i]:
                        n_bytes += len(row[i])
                if n_rows >= max_rows or n_bytes >= max_bytes:
                    yield flush()
        if n_rows:
            yield flush()
    if not emitted:
        yield flush()


def map_records(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    fn: Callable[[object], Iterable[Sequence]],
    value_ddl: str,
) -> DataFrame:
    """Run ``fn(value)`` once per row of ``df[key_cols + [value_col]]``.

    ``fn`` returns an iterable of value rows (tuples, one per output row,
    in ``value_ddl`` column order); each becomes the row ``keys + row``.
    An empty iterable drops the record.  A stage with several inputs
    packs them into one struct ``value_col`` (``fn`` then receives a
    dict).  The output schema is the key columns' types from
    ``df.schema`` followed by ``value_ddl``.  ``fn`` must be picklable by
    reference or closure (executors import the package from the shipped
    zip)."""
    keys = list(key_cols)
    schema = StructType(
        [df.schema[k] for k in keys] + DataType.fromDDL(value_ddl).fields
    )
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return record_batches(batches, keys, value_col, fn, arrow_schema)

    return df.select(*keys, value_col).mapInArrow(kernel, schema=schema)
