"""FunctionTransform — projection/map.

Reference semantics (transform.rs:32-40,128-148): for each parent row,
evaluate assignment expressions; the output row is ``{_sourceEntryId} ∪
{dest_i: eval(expr_i)}`` — **only assigned columns survive** (projection,
not extend). Spark-side this is a single ``select`` over the delta — a
narrow transformation: no shuffle, pushdown-friendly, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from reactivedb_spark import constants as C
from reactivedb_spark.config import FunctionTransformConfig
from reactivedb_spark.expr.compiler import compile_expr, infer_type


def output_schema(cfg: FunctionTransformConfig, parent: T.StructType) -> T.StructType:
    fields = [
        T.StructField(C.ENTRY_ID, T.StringType(), False),
        T.StructField(C.SOURCE_ENTRY_ID, T.StringType(), True),
        T.StructField(C.SEQ, T.LongType(), False),
    ]
    for st in cfg.functions:
        fields.append(T.StructField(st.dest, infer_type(st.expr, parent), True))
    return T.StructType(fields)


def apply_delta(cfg: FunctionTransformConfig, delta: DataFrame) -> DataFrame:
    """Map the parent delta to output rows (new ``_entryId`` assigned by the
    engine's commit path; ``_sourceEntryId`` = parent ``_entryId``,
    transform.rs:133-134)."""
    return delta.select(*columns(cfg, delta.schema))


def columns(cfg: FunctionTransformConfig, parent_schema: T.StructType) -> list[Column]:
    """The projection's output columns over a parent of ``parent_schema``."""
    cols = [
        F.col(C.ENTRY_ID).alias(C.SOURCE_ENTRY_ID),
        F.col(C.SEQ).alias(C.SEQ),
    ]
    for st in cfg.functions:
        cols.append(compile_expr(st.expr, parent_schema).col.alias(st.dest))
    return cols
