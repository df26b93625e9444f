"""FilterTransform — predicate.

Reference semantics (transform.rs:41-52,150-174): copy the parent row
unchanged iff a boolean expression over the row is true; all parent
columns carry over plus ``_sourceEntryId``. Spark-side: a native
``filter`` — pushed down to the parquet scan by Catalyst when the
predicate allows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from reactivedb_spark import constants as C
from reactivedb_spark.config import FilterTransformConfig
from reactivedb_spark.errors import ConfigError
from reactivedb_spark.expr.compiler import compile_expr, infer_type


def business_fields(schema: T.StructType) -> list[T.StructField]:
    return [f for f in schema.fields if f.name not in C.SYSTEM_COLUMNS]


def output_schema(cfg: FilterTransformConfig, parent: T.StructType) -> T.StructType:
    pred_type = infer_type(cfg.filter.expr, parent)
    if not isinstance(pred_type, T.BooleanType):
        raise ConfigError(f"filter must be boolean, got {pred_type}")
    fields = [
        T.StructField(C.ENTRY_ID, T.StringType(), False),
        T.StructField(C.SOURCE_ENTRY_ID, T.StringType(), True),
        T.StructField(C.SEQ, T.LongType(), False),
    ] + business_fields(parent)
    return T.StructType(fields)


def apply_delta(cfg: FilterTransformConfig, delta: DataFrame) -> DataFrame:
    return delta.filter(predicate(cfg, delta.schema)).select(*columns(delta.schema))


def predicate(cfg: FilterTransformConfig, parent_schema: T.StructType) -> Column:
    return compile_expr(cfg.filter.expr, parent_schema).col


def columns(parent_schema: T.StructType) -> list[Column]:
    """The output columns over the kept rows of a parent of ``parent_schema``."""
    cols = [F.col(C.ENTRY_ID).alias(C.SOURCE_ENTRY_ID), F.col(C.SEQ)]
    return cols + [F.col(f.name) for f in business_fields(parent_schema)]
