"""Reference-parity convenience API (reference __init__.py exports).

The reference's public surface is four names — ``XarrayContext``,
``read_xarray``, ``read_xarray_table``, ``from_map`` (reference
xarray_sql/__init__.py:1-12). This module provides the Spark-side twins of
the function entry points so a reference user can switch imports 1:1:

- ``read_xarray_table`` (reference reader.py:192-337) — register a Dataset
  as a lazy, partition-pruned table and get the queryable DataFrame back.
  Registration reads nothing; WHERE clauses on dim columns prune chunk
  blocks exactly as the reference documents.
- ``from_map`` / ``from_map_batched`` (reference df.py:120-189, deprecated
  there) — map a pd.DataFrame-producing function over iterables. The local
  flavors return pyarrow objects like the reference; ``from_map_spark`` is
  the distributed twin (one task per element via ``mapInPandas``), which is
  what you actually want on a cluster.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from xarray_sql_spark.dataset import Dataset
from xarray_sql_spark.pivot import DEFAULT_BATCH_SIZE


def read_xarray_table(
    spark: SparkSession,
    ds: Dataset,
    chunks: dict[str, int] | None = None,
    *,
    name: str = "xarray_table",
    batch_size: int = DEFAULT_BATCH_SIZE,
) -> DataFrame:
    """Register ``ds`` as a lazy chunk-partitioned table; return its DataFrame.

    Nothing is read at registration (reference reader.py:202-208 contract —
    pinned by tests/test_grid_engine.py::test_zero_reads_at_registration_and_planning);
    dim-column predicates prune chunk blocks before any read and select
    the cells the reader emits, and the kept blocks are packed by the bytes
    of their kept cells with Spark's split rule (a full scan runs as about
    one task per core, a small slice as one). Every query over the
    returned DataFrame reads every variable: projection pushdown runs only
    inside ``XarraySession.sql``. The DataFrame is re-queryable; every
    query opens a fresh stream over the source.
    """
    from xarray_sql_spark.xr_session import XarraySession

    xs = XarraySession(spark)
    xs.from_dataset(name, ds, chunks=chunks, batch_size=batch_size)
    return xs.table(name)


def from_map_batched(
    func: Callable[..., pd.DataFrame],
    *iterables: Any,
    args: tuple | None = None,
    schema: pa.Schema = None,
    **kwargs: Any,
) -> pa.RecordBatchReader:
    """Lazy driver-local map: one Arrow RecordBatch per element (reference
    df.py:120-153). Use ``from_map_spark`` for cluster-scale fan-out.

    With ``schema=None`` the first element is mapped eagerly to infer the
    schema (``RecordBatchReader.from_batches`` requires a concrete one —
    the reference's None default crashes there); the remaining elements
    stay lazy.
    """
    if args is None:
        args = ()
    it = zip(*iterables)
    first: pa.RecordBatch | None = None
    if schema is None:
        try:
            items = next(it)
        except StopIteration:
            raise ValueError(
                "from_map_batched needs at least one element to infer a "
                "schema; pass schema= for an empty stream"
            ) from None
        first = pa.RecordBatch.from_pandas(func(*items, *args, **kwargs))
        schema = first.schema

    def gen() -> Iterator[pa.RecordBatch]:
        if first is not None:
            yield first
        for items in it:
            yield pa.RecordBatch.from_pandas(func(*items, *args, **kwargs), schema=schema)

    return pa.RecordBatchReader.from_batches(schema, gen())


def from_map(
    func: Callable[..., pd.DataFrame],
    *iterables: Any,
    args: tuple | None = None,
    **kwargs: Any,
) -> pa.Table:
    """Eager driver-local map -> one pyarrow Table (reference df.py:155-189,
    deprecated there; kept for import parity)."""
    if args is None:
        args = ()
    frames = [func(*items, *args, **kwargs) for items in zip(*iterables)]
    return pa.concat_tables([pa.Table.from_pandas(f) for f in frames])


def from_map_spark(
    spark: SparkSession,
    func: Callable[..., pd.DataFrame],
    *iterables: Any,
    args: tuple | None = None,
    schema: str | None = None,
    **kwargs: Any,
) -> DataFrame:
    """Distributed ``from_map``: ship the element list, run ``func`` on
    executors via Arrow-batched ``mapInPandas`` — the shape the reference's
    driver-local helper can't scale to.

    ``schema`` is the Spark DDL of ``func``'s output; if omitted it is
    inferred by evaluating ``func`` on the FIRST element driver-side (one
    extra local call — pass a schema to avoid it).
    """
    if args is None:
        args = ()
    items = list(zip(*iterables))
    if not items:
        raise ValueError("from_map_spark needs at least one element")
    if schema is None:
        probe = func(*items[0], *args, **kwargs)
        schema = ", ".join(
            f"`{c}` {_spark_type(dt)}" for c, dt in probe.dtypes.items()
        )

    import pickle

    payload = [(i, pickle.dumps(it)) for i, it in enumerate(items)]
    src = spark.createDataFrame(payload, "idx long, blob binary").repartition(
        min(len(items), spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for blob in b["blob"]:
                yield func(*pickle.loads(bytes(blob)), *args, **kwargs)

    return src.mapInPandas(run, schema)


_NUMPY_TO_SPARK = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "float32": "float",
    "float64": "double",
    "bool": "boolean",
    "object": "string",
    "string": "string",
    "datetime64[ns]": "timestamp",
    "datetime64[us]": "timestamp",
    "datetime64[ms]": "timestamp",
}


def _spark_type(dtype: Any) -> str:
    try:
        return _NUMPY_TO_SPARK[str(dtype)]
    except KeyError:
        # a silent 'string' fallback would surface later as an opaque
        # executor-side Arrow conversion error — fail at inference instead
        raise NotImplementedError(
            f"from_map_spark cannot infer a Spark type for dtype {dtype!r}; "
            f"pass schema= explicitly"
        ) from None
