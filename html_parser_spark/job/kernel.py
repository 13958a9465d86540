"""The one batch-kernel idiom for per-row Python UDFs.

``row_kernel(fn, schema)`` turns a per-row function into the function
``DataFrame.mapInArrow`` takes::

    df.mapInArrow(row_kernel(fn, SCHEMA), SCHEMA)

- ``fn`` is called once per input row. Its parameter *names* pick the
  input columns it reads; the kernel converts only those columns to
  Python. It returns an iterable of output dicts: 0, 1 or many rows.
- A schema field missing from a dict is null; keys outside the schema
  are ignored.
- A schema field that is also an input column, and that ``fn`` returned
  for no row of the batch, passes through: the input Arrow column is
  ``take``-n on the source-row indices and never enters Python. So ``fn``
  must return such a key for every row or for none; otherwise the rows
  without it are null.
- Arrow types come from the Spark schema, converted once. Conversion is
  checked: a value that does not fit its column (an int above int32)
  raises, so ``fn`` range-checks what it parses from outside input.

Columns are built straight from Python lists into Arrow: the extraction
kernel measured ~2× faster this way than through ``mapInPandas``, whose
object-dtype round trips dominate on ~25 KB string columns.

The kernel catches nothing. Each ``fn`` owns its never-fail policy
(status row, dropped row, sentinel row), because those policies differ
between callers.

Kernels that stay outside this helper, and why:

- the ``functions/vecops`` numpy block kernels are vectorized over the
  whole batch, not per row;
- ``sources/warc.warc_blobs_from_pages`` emits one row per *batch*;
- ``streaming`` sessionization is ``applyInPandasWithState``, a grouped
  stateful operator.
"""

from __future__ import annotations

import inspect
from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["row_kernel"]


def row_kernel(fn: Callable[..., Iterable[dict]], schema: StructType
               ) -> Callable[[Iterator[pa.RecordBatch]],
                             Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` kernel that runs ``fn`` over every row and
    assembles its output dicts into batches of ``schema``."""
    arrow = to_arrow_schema(schema)
    args = list(inspect.signature(fn).parameters)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            src, rows = [], []
            for i, vals in enumerate(
                    zip(*(b.column(a).to_pylist() for a in args))):
                for r in fn(*vals):
                    src.append(i)
                    rows.append(r)
            returned = set().union(*rows)
            idx = pa.array(src, pa.int64())
            arrays = [
                b.column(f.name).take(idx).cast(f.type)
                if f.name not in returned and f.name in b.schema.names
                else pa.array([r.get(f.name) for r in rows], f.type)
                for f in arrow
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow)

    kernel.__name__ = fn.__name__   # names the MapInArrow node in plans
    return kernel
