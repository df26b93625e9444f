"""Arrow building blocks of the engine's local commit path.

A child whose inputs fit :data:`reactivedb_spark.store.DRIVER_WRITE_LIMIT`
is computed on the driver (``Engine._apply_child``). Spark still
evaluates every expression, as a projection or filter over a local
relation built from the Arrow rows: Catalyst folds such a plan into a
local relation, so its collect runs no Spark job. pyarrow does only the
keyed relational work around those projections: grouping, key lookups
and first-arrival picks.
"""

from __future__ import annotations

import uuid as _uuid
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from reactivedb_spark import constants as C
from reactivedb_spark.store import collect_rows


def project(spark: SparkSession, rows: pa.Table,
            fn: Callable[[DataFrame], DataFrame],
            schema: Optional[T.StructType] = None) -> pa.Table:
    """``fn`` (projections and filters only) over ``rows`` as a local
    relation of ``schema`` (inferred from the Arrow types when None),
    collected as Arrow with no Spark job."""
    out = fn(spark.createDataFrame(rows, schema=schema))
    arrow_schema = to_arrow_schema(out.schema)
    return pa.Table.from_pylist(
        [r.asDict(recursive=True) for r in collect_rows(out)], schema=arrow_schema)


def with_entry_ids(tbl: pa.Table) -> pa.Table:
    """``tbl`` plus fresh ``_entryId`` uuids, as ``uuid()`` would add."""
    return tbl.append_column(
        C.ENTRY_ID, pa.array([str(_uuid.uuid4()) for _ in range(tbl.num_rows)]))


def first_rows(tbl: pa.Table, key: str, order: list) -> pa.Table:
    """One row per ``key`` value (null is one value): the first in the
    ``(column, "ascending"|"descending")`` sort ``order``."""
    ranked = tbl.take(pc.sort_indices(tbl, [(key, "ascending")] + order))
    ranked = ranked.append_column("_i", pa.array(range(ranked.num_rows), pa.int64()))
    first = ranked.group_by(key, use_threads=False).aggregate([("_i", "min")])
    return ranked.take(first["_i_min"]).drop_columns(["_i"])


def lookup(keys, value_set) -> pa.ChunkedArray:
    """Per key, its index in ``value_set`` or null; a null key matches a
    null in ``value_set``, as a batch ``groupBy`` treats null as one key."""
    vs = value_set.combine_chunks() if isinstance(value_set, pa.ChunkedArray) else value_set
    return pc.index_in(keys, value_set=vs, skip_nulls=False)
