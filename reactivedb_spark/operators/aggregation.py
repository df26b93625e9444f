"""AggregationTransform — per-key fold with a `memo.*` accumulator.

Reference semantics (transform.rs:83-102,229-275): on each parent insert,
re-scan the whole group (``get_all(source, agg_col, value)``,
transform.rs:239) and fold the assignment expressions left-to-right over
the group's rows; the accumulator ``memo.<dest>`` starts at ``Integer(0)``
(transform.rs:250,255 — quirk kept, SURVEY.md Appendix A #9). The result
row replaces the previous group row (Update on ``aggregatedColumn``).
Canonical configs: ``count ~ memo.count + 1``, ``sum ~ memo.sum + x``,
``average ~ memo.sum / memo.count`` (README.md:60-71).

Spark expression — two compilation strategies, chosen statically:

- **Decomposable** (every dest is sum-like ``memo.d + E``, post-only
  (memo refs only), or memo-free): native ``groupBy(...).agg(sum/…)``
  with map-side partial aggregation — one shuffle, whole-stage codegen,
  scales to any group size.
- **General fold**: an ordered left fold per group, exactly the
  reference's sequential semantics — executed per GROUP SIZE
  (_route_general_fold, VERDICT r12 #4): groups up to
  GENERAL_FOLD_MAX_GROUP_ROWS fold on the JVM array path
  (``aggregate(array_sort(collect_list(...)))`` — whole-stage codegen,
  whole group in one array cell); oversized groups fold on the
  memory-bounded Arrow streaming path (repartition by key +
  sortWithinPartitions + mapInArrow forward scan, O(1) state per group)
  so ONE skewed key at 100 TB degrades only itself instead of OOMing an
  executor. Both paths are fuzz-pinned against a DuckDB ordered replay
  on the same configs (tests/test_fold_duckdb_fuzz.py).

The engine re-aggregates only *affected* keys per batch (semi-join on the
delta's keys), mirroring the reference's per-key re-scan but batched.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from reactivedb_spark import constants as C
from reactivedb_spark.config import AggregationTransformConfig
from reactivedb_spark.errors import ConfigError
from reactivedb_spark.expr.ast import (
    ARITH_OPS, BOOL_OPS, CMP_OPS, BinOp, ColumnRef, Expr, FuncCall, Literal,
    MemoRef, has_column, has_memo,
)
from reactivedb_spark.errors import ExpressionError
from reactivedb_spark.expr.compiler import TypedColumn, compile_expr, field_type, infer_type
from reactivedb_spark.types import DECIMAL, is_integral, is_numeric, promote

# aliases used inside _build_row_fold's builder body (driver-side only;
# runtime closures never reference them)
ARITH_OPS_, CMP_OPS_, BOOL_OPS_ = ARITH_OPS, CMP_OPS, BOOL_OPS
ExpressionError_ = ExpressionError


def memo_types(cfg: AggregationTransformConfig, parent: T.StructType) -> dict[str, T.DataType]:
    """Fixpoint memo typing: init Integer(0) ⇒ LongType, then widen through
    the assignment expressions until stable (e.g. ``memo.count + 1.0``
    widens count to Decimal)."""
    return dict(_memo_types(cfg, parent))


# Typing compiles every expression through py4j (15-40 ms a call), and a
# commit asks several times for the same (config, schema) pair.
@functools.lru_cache(maxsize=256)
def _memo_types(cfg: AggregationTransformConfig, parent: T.StructType) -> dict[str, T.DataType]:
    types: dict[str, T.DataType] = {st.dest: T.LongType() for st in cfg.functions}
    for _ in range(5):
        changed = False
        for st in cfg.functions:
            t = infer_type(st.expr, parent, memo_types=types)
            if types[st.dest] != t:
                types[st.dest] = t
                changed = True
        if not changed:
            return types
    raise ConfigError(f"memo types did not converge for {list(types)}")


def _sum_term(st) -> Expr | None:
    """``dest ~ memo.dest + E`` (either side) or ``dest ~ memo.dest - E``
    (memo left only — ``E - memo.dest`` alternates sign per row and is NOT
    a sum) with E memo-free → the per-row summand (negated via ``0 - E``
    for the minus fold)."""
    e = st.expr
    if isinstance(e, BinOp) and e.op == "+":
        if isinstance(e.left, MemoRef) and e.left.name == st.dest and not has_memo(e.right):
            return e.right
        if isinstance(e.right, MemoRef) and e.right.name == st.dest and not has_memo(e.left):
            return e.left
    if isinstance(e, BinOp) and e.op == "-":
        if isinstance(e.left, MemoRef) and e.left.name == st.dest and not has_memo(e.right):
            return BinOp("-", Literal(0), e.right)
    return None


def classify(cfg: AggregationTransformConfig):
    """Return {dest: ("sum", term) | ("post", expr) | ("last", expr)} if the
    whole transform is decomposable, else None (→ general fold)."""
    plan = {}
    sum_or_last = set()
    for st in cfg.functions:
        term = _sum_term(st)
        if term is not None:
            plan[st.dest] = ("sum", term)
            sum_or_last.add(st.dest)
            continue
        if not has_memo(st.expr):
            plan[st.dest] = ("last", st.expr)
            sum_or_last.add(st.dest)
            continue
        if not has_column(st.expr):
            refs = {n.name for n in st.expr.walk() if isinstance(n, MemoRef)}
            if refs <= sum_or_last:
                plan[st.dest] = ("post", st.expr)
                continue
        return None
    return plan


def exact_sums(cfg: AggregationTransformConfig, parent: T.StructType) -> bool:
    """Whether the plan is decomposable into sums of integral or decimal
    type and posts, so a delta's group sums are exact in any order (a
    ``last`` or a floating sum depends on Spark's row order)."""
    plan = classify(cfg)
    if plan is None:
        return False
    mtypes = memo_types(cfg, parent)
    return all(kind == "post" or (kind == "sum" and isinstance(
        mtypes[dest], (T.LongType, T.DecimalType))) for dest, (kind, _t) in plan.items())


def output_schema(cfg: AggregationTransformConfig, parent: T.StructType) -> T.StructType:
    mtypes = memo_types(cfg, parent)
    fields = [
        T.StructField(C.ENTRY_ID, T.StringType(), False),
        T.StructField(C.SOURCE_ENTRY_ID, T.StringType(), True),
        T.StructField(C.SEQ, T.LongType(), False),
        T.StructField(C.AGGREGATED_COLUMN, field_type(parent, cfg.aggregated_column), True),
    ]
    fields += [T.StructField(st.dest, mtypes[st.dest], True) for st in cfg.functions]
    return T.StructType(fields)


def _last_agg(value: Column) -> Column:
    """Value carried by the group's highest ``_seq``."""
    return F.max(F.struct(F.col(C.SEQ).alias("s"), value.alias("v")))["v"]


def merge_with_state(
    cfg: AggregationTransformConfig,
    state_rows: DataFrame,
    delta_groups: DataFrame,
    parent_schema: T.StructType,
) -> DataFrame:
    """Incremental state merge for decomposable plans (insert-only delta):
    new_sum = old_sum + delta_sum, last = delta's (strictly newer), posts
    recomputed — **no parent re-scan**. This is the map-side-combine /
    partial-aggregate pattern applied across batches; at cluster scale it
    is the difference between O(delta) and O(affected groups × group
    size) per micro-batch.
    """
    o = state_rows.select(
        F.col(C.AGGREGATED_COLUMN).alias("_k"),
        F.lit(True).alias("_matched"),
        *[F.col(st.dest).alias(f"_o_{st.dest}") for st in cfg.functions],
    )
    merged = delta_groups.join(o, delta_groups[C.AGGREGATED_COLUMN] == o["_k"], "left")
    # Internal columns are referenced through the `o` handle, never by
    # bare name — config.py additionally rejects colliding dests
    # (ADVICE r12).
    return merged.select(*merged_columns(
        cfg, parent_schema, o["_matched"], lambda d: o[f"_o_{d}"], F.col))


def merged_columns(cfg: AggregationTransformConfig, parent_schema: T.StructType,
                   matched: Column, old: Callable[[str], Column],
                   new: Callable[[str], Column]) -> list[Column]:
    """The merge's output columns over delta groups left-joined with their
    prior state rows: ``matched`` is null where a group has no prior row,
    ``old(dest)`` the prior value and ``new(dest)`` the delta group's
    value of a dest."""
    plan = classify(cfg)
    assert plan is not None, "merge_with_state requires a decomposable plan"
    mtypes = memo_types(cfg, parent_schema)
    cur: dict[str, Column] = {}
    for st in cfg.functions:
        kind, _term = plan[st.dest]
        if kind == "sum":
            # matched (never-null marker), NOT coalesce on the value:
            # a NULL in prior state means the fold is poisoned and must
            # STAY NULL (r12 fold-fuzz finding); only a join miss (no
            # prior group row) initializes at 0.
            prior = F.when(matched.isNull(),
                           F.lit(0).cast(mtypes[st.dest])
                           ).otherwise(old(st.dest))
            add = new(st.dest)
            if isinstance(mtypes[st.dest], T.DecimalType):
                # Per-add operand coercion parity with compute_groups
                # (ADVICE r12): the fold contract coerces BOTH add
                # operands to decimal(19,9) HALF_UP, NULLing on
                # |value| >= 1e10 — so the merge's old+delta add applies
                # the same guard to each operand. Residual declared
                # divergence (same class as compute_groups): delta_sum
                # is an aggregated addend, so a mid-DELTA |memo| >= 1e10
                # crossing that re-enters range NULLs the true sequential
                # fold but not this merge; the general fold path remains
                # the exact-semantics fallback.
                prior = prior.try_cast(T.DecimalType(19, 9))
                add = add.try_cast(T.DecimalType(19, 9))
            cur[st.dest] = (prior + add).cast(mtypes[st.dest])
        elif kind == "last":
            cur[st.dest] = new(st.dest)  # delta rows are strictly newer
    for st in cfg.functions:
        if plan[st.dest][0] == "post":
            def resolver(m: MemoRef) -> TypedColumn:
                return TypedColumn(cur[m.name], mtypes[m.name])

            tc = compile_expr(st.expr, parent_schema, memo_resolver=resolver)
            cur[st.dest] = tc.col.cast(mtypes[st.dest])
    return [
        F.col(C.SOURCE_ENTRY_ID),
        F.col(C.SEQ),
        F.col(C.AGGREGATED_COLUMN),
        *[cur[st.dest].alias(st.dest) for st in cfg.functions],
    ]


def row_terms(cfg: AggregationTransformConfig, schema: T.StructType) -> dict[str, Column]:
    """Per parent row, the value each sum or last dest of a decomposable
    plan aggregates: the summand of a sum (decimal sums coerced as the
    fold coerces them) and the value of a last."""
    plan = classify(cfg)
    mtypes = memo_types(cfg, schema)
    out = {}
    for st in cfg.functions:
        kind, term = plan[st.dest]
        if kind == "post":
            continue
        col = compile_expr(term, schema).col
        if kind == "sum" and isinstance(mtypes[st.dest], T.DecimalType):
            # Per-add operand coercion parity (r12 fold-fuzz finding
            # #3): the fold computes memo + term with BOTH operands
            # HALF_UP-coerced to decimal(19,9) (the DSL's declared
            # operand contract, expr/compiler.py) — so each TERM rounds
            # to 9 fractional digits before it accumulates, and the
            # running value stays scale-9 exact. A bare F.sum of the
            # full-scale (38,18) terms kept low-order digits the fold
            # had already shed. try_cast: term |value| >= 1e10 coerces
            # to NULL in the fold too. Residual declared divergence: a
            # mid-sequence |memo| >= 1e10 that RE-ENTERS range NULLs
            # the fold but not this sum — unreachable without |Σ| >=
            # 1e10 crossings, and the general fold path remains the
            # exact-semantics fallback.
            col = col.try_cast(T.DecimalType(19, 9))
        out[st.dest] = col
    return out


def compute_groups(cfg: AggregationTransformConfig, parent_rows: DataFrame,
                   fold_strategy: str = "auto",
                   max_group_rows: int | None = None) -> DataFrame:
    """Aggregate ``parent_rows`` (already filtered to affected keys by the
    engine) into one output row per key. Non-decomposable configs run the
    general ordered fold; ``fold_strategy``/``max_group_rows`` control the
    array-vs-streaming execution per group (see _route_general_fold)."""
    if max_group_rows is None:
        max_group_rows = GENERAL_FOLD_MAX_GROUP_ROWS
    schema = parent_rows.schema
    mtypes = memo_types(cfg, schema)
    # a forced strategy bypasses the native decomposable plan entirely:
    # the fold fuzz runs both general-fold paths on EVERY config, and
    # "array"/"stream" double as the reference-exact escape hatch for the
    # declared decomposable divergence on |memo| >= 1e10 re-entry
    # crossings (see test_fold_duckdb_fuzz.py).
    plan = classify(cfg) if fold_strategy == "auto" else None
    base = [
        _last_agg(F.col(C.ENTRY_ID)).alias(C.SOURCE_ENTRY_ID),
        F.max(C.SEQ).alias(C.SEQ),
    ]
    if plan is not None:
        aggs, posts = list(base), []
        terms = row_terms(cfg, schema)
        for st in cfg.functions:
            kind = plan[st.dest][0]
            if kind == "sum":
                # NULL-poisoning parity (r12 fold-fuzz finding): the
                # reference fold computes memo + term sequentially, so ONE
                # NULL term makes the memo NULL for the rest of the group;
                # a bare F.sum would SKIP null terms and diverge. count()
                # counts all rows, count(term) non-null terms — any gap
                # means the fold would have poisoned the accumulator.
                col = terms[st.dest]
                aggs.append(
                    F.when(F.count(F.lit(1)) == F.count(col),
                           F.sum(col))
                    .cast(mtypes[st.dest]).alias(st.dest))
            elif kind == "last":
                aggs.append(_last_agg(terms[st.dest]).cast(mtypes[st.dest]).alias(st.dest))
            else:
                posts.append(st)
        out = parent_rows.groupBy(
            F.col(cfg.aggregated_column).alias(C.AGGREGATED_COLUMN)
        ).agg(*aggs)
        for st in posts:
            def resolver(m: MemoRef) -> TypedColumn:
                return TypedColumn(F.col(m.name).cast(mtypes[m.name]), mtypes[m.name])

            tc = compile_expr(st.expr, schema, memo_resolver=resolver)
            out = out.withColumn(st.dest, tc.col.cast(mtypes[st.dest]))
        ordered = [C.SOURCE_ENTRY_ID, C.SEQ, C.AGGREGATED_COLUMN] + [st.dest for st in cfg.functions]
        return out.select(*ordered)

    return _route_general_fold(cfg, parent_rows, fold_strategy,
                               max_group_rows)


# -- general-fold strategy routing (VERDICT r12 #4) -------------------------

# Above this many rows in one group, the array fold's per-group
# collect_list risks executor OOM (the documented limitation); the
# streaming fold takes over. 100k rows x ~100 B is ~10 MB per group
# state-free in the stream path vs a 10 MB+ single array cell in the
# array path — comfortably inside any executor at the default, while
# keeping the (faster, whole-stage-codegen) array path for every sanely
# sized group.
GENERAL_FOLD_MAX_GROUP_ROWS = 100_000


def _route_general_fold(cfg: AggregationTransformConfig, parent_rows: DataFrame,
                        fold_strategy: str, max_group_rows: int) -> DataFrame:
    """Pick the general-fold execution per GROUP, fully lazily (no driver
    probe job): a keyed count joins back null-safely, keys at or under
    ``max_group_rows`` fold on the JVM array path, oversized keys fold on
    the memory-bounded Arrow streaming path, results union. With no skew
    the stream branch is an empty relation (scheduling cost only); ONE
    hot key at 100 TB degrades only itself to the Python path instead of
    OOMing an executor (VERDICT r12 #4). ``fold_strategy``: "auto" |
    "array" | "stream" (forced paths exist for the fold fuzz, which runs
    both on the same configs and compares against the DuckDB replay)."""
    if fold_strategy == "array":
        return _general_fold_array(cfg, parent_rows)
    if fold_strategy == "stream":
        return _general_fold_stream(cfg, parent_rows)
    if fold_strategy != "auto":
        raise ConfigError(f"unknown fold_strategy {fold_strategy!r}")
    key = cfg.aggregated_column
    cnt = parent_rows.groupBy(F.col(key).alias("__rdb_gk")).agg(
        F.count(F.lit(1)).alias("__rdb_gn"))
    enriched = parent_rows.join(
        cnt, F.col(key).eqNullSafe(F.col("__rdb_gk")), "left"
    ).drop("__rdb_gk")
    small = enriched.filter(F.col("__rdb_gn") <= max_group_rows).drop("__rdb_gn")
    big = enriched.filter(F.col("__rdb_gn") > max_group_rows).drop("__rdb_gn")
    return _general_fold_array(cfg, small).unionByName(
        _general_fold_stream(cfg, big))


def _general_fold_array(cfg: AggregationTransformConfig,
                        parent_rows: DataFrame) -> DataFrame:
    """JVM array fold: ``aggregate(array_sort(collect_list(...)))`` — the
    reference-exact sequential semantics, whole group in one array cell
    (groups must fit in executor memory; oversized groups are routed to
    :func:`_general_fold_stream` by ``_route_general_fold``)."""
    schema = parent_rows.schema
    mtypes = memo_types(cfg, schema)
    base = [
        _last_agg(F.col(C.ENTRY_ID)).alias(C.SOURCE_ENTRY_ID),
        F.max(C.SEQ).alias(C.SEQ),
    ]

    needed = sorted(
        {n.name for st in cfg.functions for n in st.expr.walk() if isinstance(n, ColumnRef)}
    )
    row_struct = F.struct(
        F.col(C.SEQ).alias("_s"), *[F.col(c).alias(c) for c in needed]
    )
    arr = F.array_sort(F.collect_list(row_struct))
    # NULL-safe accumulator encoding (r12 fold-fuzz finding): Spark's
    # aggregate() with a STRUCT accumulator silently rewrites a NULL
    # field to the field's zero value when materializing the struct
    # (reproduced in both the Column and SQL forms on 4.1.x; a SCALAR
    # accumulator propagates NULL correctly). A memo poisoned by a NULL
    # term therefore "recovered" to 0 mid-fold. Each memo field is
    # stored as a never-NULL pair — `<d>__n` (is-null flag) + `<d>__v`
    # (value, 0 when null) — so the struct never carries a NULL field;
    # memo refs decode the pair, the final projection re-encodes NULL.
    init = F.struct(
        *[c for st in cfg.functions for c in (
            F.lit(False).alias(f"{st.dest}__n"),
            F.lit(0).cast(mtypes[st.dest]).alias(f"{st.dest}__v"))]
    )

    def step(acc: Column, x: Column) -> Column:
        # Left-to-right per-row assignment updates, each seeing the memo
        # values already updated by earlier assignments on the same row
        # (transform.rs:250-266).
        cur: dict[str, Column] = {
            st.dest: F.when(acc[f"{st.dest}__n"],
                            F.lit(None).cast(mtypes[st.dest])
                            ).otherwise(acc[f"{st.dest}__v"])
            for st in cfg.functions
        }

        def resolver(m: MemoRef) -> TypedColumn:
            if m.name not in cur:
                raise ConfigError(f"unknown memo.{m.name}")
            return TypedColumn(cur[m.name], mtypes[m.name])

        for st in cfg.functions:
            tc = compile_expr(
                st.expr,
                parent_rows.schema,
                memo_resolver=resolver,
                column_resolver=lambda name, _dt: x[name],
            )
            cur[st.dest] = tc.col.cast(mtypes[st.dest])
        return F.struct(*[c for st in cfg.functions for c in (
            cur[st.dest].isNull().alias(f"{st.dest}__n"),
            F.coalesce(cur[st.dest], F.lit(0).cast(mtypes[st.dest]))
            .alias(f"{st.dest}__v"))])

    folded = F.aggregate(arr, init, step).alias("_m")
    out = parent_rows.groupBy(
        F.col(cfg.aggregated_column).alias(C.AGGREGATED_COLUMN)
    ).agg(*base, folded)
    cols = [C.SOURCE_ENTRY_ID, C.SEQ, C.AGGREGATED_COLUMN] + [
        F.when(F.col("_m")[f"{st.dest}__n"],
               F.lit(None).cast(mtypes[st.dest]))
        .otherwise(F.col("_m")[f"{st.dest}__v"]).alias(st.dest)
        for st in cfg.functions
    ]
    return out.select(*cols)


def _general_fold_stream(cfg: AggregationTransformConfig,
                         parent_rows: DataFrame) -> DataFrame:
    """Memory-bounded general fold (VERDICT r12 #4): repartition by the
    aggregation key + ``sortWithinPartitions(key, _seq)`` + an Arrow
    ``mapInArrow`` streaming fold. Rows of one group arrive contiguous
    and _seq-ascending inside one partition, so a single forward scan
    folds every group with O(1) state per group — a group larger than
    executor memory streams through in Arrow batches instead of
    materializing as one array cell.

    Same sequential semantics as the array fold (transform.rs:250-266):
    memos init Integer(0) cast to the memo type; statements apply
    left-to-right per row, each seeing memos already updated by earlier
    statements on the same row. The per-row evaluator is compiled
    driver-side by :func:`_build_row_fold`, which mirrors
    expr/compiler.py's declared semantics (trunc int div, NULL on /0,
    the decimal(19,9) HALF_UP operand contract with overflow⇒NULL,
    Kleene boolean logic); parity between the two paths and the DuckDB
    ordered replay is pinned by tests/test_fold_duckdb_fuzz.py running
    BOTH paths on the same configs.

    mapInArrow (not mapInPandas): pandas coerces nullable int64 columns
    to float64 (NaN for NULL), silently losing exactness above 2^53;
    Arrow batches keep int64+validity and hand decimals over as
    ``decimal.Decimal``.
    """
    import pyarrow as pa

    schema = parent_rows.schema
    mtypes = memo_types(cfg, schema)
    apply_row, inits = _build_row_fold(cfg, schema, mtypes)
    key = cfg.aggregated_column
    needed = sorted(
        {n.name.split(".")[0] for st in cfg.functions
         for n in st.expr.walk() if isinstance(n, ColumnRef)}
        - {C.ENTRY_ID, C.SEQ}
    )
    src = parent_rows.select(
        F.col(C.ENTRY_ID), F.col(C.SEQ),
        F.col(key).alias(C.AGGREGATED_COLUMN),
        *[F.col(c) for c in needed if c != key],
        *([F.col(key)] if key in needed else []),
    )
    out_fields = [
        T.StructField(C.SOURCE_ENTRY_ID, T.StringType(), True),
        T.StructField(C.SEQ, T.LongType(), True),
        T.StructField(C.AGGREGATED_COLUMN, field_type(schema, key), True),
    ] + [T.StructField(st.dest, mtypes[st.dest], True) for st in cfg.functions]
    out_schema = T.StructType(out_fields)

    def arrow_type(dt: T.DataType):
        if isinstance(dt, T.DecimalType):
            return pa.decimal128(dt.precision, dt.scale)
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return pa.int64()
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return pa.float64()
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.BooleanType):
            return pa.bool_()
        raise ConfigError(
            f"streaming fold: unsupported output type {dt.simpleString()}")

    arrow_schema = pa.schema(
        [pa.field(f.name, arrow_type(f.dataType)) for f in out_fields])
    dests = tuple(st.dest for st in cfg.functions)
    k_ent, k_seq, k_agg = C.ENTRY_ID, C.SEQ, C.AGGREGATED_COLUMN
    k_src = C.SOURCE_ENTRY_ID
    # float keys group like Spark: -0.0 joins 0.0, NaN is ONE group
    float_key = isinstance(field_type(schema, key), (T.DoubleType, T.FloatType))

    def fold_batches(batches):
        # worker-side: stdlib + pyarrow only (no package symbols — Python
        # workers do not import reactivedb_spark; SKILL.md gotcha)
        import pyarrow as _pa

        started = False
        cur_key = cur_ck = None
        memo = None
        last_seq = last_ent = None
        out_rows = []

        def finish():
            row = {k_src: last_ent, k_seq: last_seq, k_agg: cur_key}
            for d in dests:
                row[d] = memo[d]
            out_rows.append(row)

        for batch in batches:
            for r in batch.to_pylist():
                k = r[k_agg]
                ck = k
                if float_key and k is not None:
                    if k == 0.0:
                        k = ck = 0.0
                    elif k != k:
                        ck = "__rdb_nan__"
                if not started or ck != cur_ck:
                    if started:
                        finish()
                    started, cur_key, cur_ck, memo = True, k, ck, dict(inits)
                apply_row(r, memo)
                last_seq, last_ent = r[k_seq], r[k_ent]
            if out_rows:
                yield _pa.RecordBatch.from_pylist(out_rows, schema=arrow_schema)
                out_rows = []
        if started:
            finish()
        if out_rows:
            yield _pa.RecordBatch.from_pylist(out_rows, schema=arrow_schema)

    return (
        src.repartition(F.col(C.AGGREGATED_COLUMN))
        .sortWithinPartitions(C.AGGREGATED_COLUMN, C.SEQ)
        .mapInArrow(fold_batches, out_schema)
    )


def _build_row_fold(cfg: AggregationTransformConfig, schema: T.StructType,
                    mtypes: dict[str, T.DataType]):
    """Compile the assignment statements into a pure-Python per-row fold
    for the streaming path: ``(apply_row(row_dict, memo_dict), inits)``.

    Type decisions reuse the SAME driver-side machinery as the JVM path
    (``promote``/``is_integral``/``field_type``), then bake into plain
    closures — so the two paths cannot disagree on typing by
    construction. Value semantics mirror expr/compiler.py line for line:

    - integer ``/`` truncates toward zero, NULL on zero divisor;
      ``+ - *`` wrap to signed 64-bit (Spark non-ANSI; overflow is
      declared session-defined and unreachable at contract magnitudes);
    - decimal operands coerce to (19,9) HALF_UP with |v| >= 1e10 ⇒ NULL
      (try_cast); ``*`` rounds HALF_UP at the 17th decimal ((38,17));
      ``/`` rounds at the 19th then once more to 18; results widen to
      decimal(38,18);
    - double division by zero ⇒ NULL (try_divide), sqrt(<0) ⇒ NaN;
    - comparisons promote numerics, NULL-propagate; booleans use Kleene
      three-valued logic; decimal/long casts round HALF_UP / truncate
      toward zero exactly as probed on Spark 4.1 (tests pin parity).

    The returned closures capture ONLY stdlib objects and plain data —
    cloudpickle ships them by value; workers never import this package.
    """
    import math
    from decimal import ROUND_HALF_UP, Context, Decimal, localcontext

    # explicit wide context for every quantize: the thread-default 28-digit
    # context raises InvalidOperation quantizing values near the (38,18)
    # envelope (e.g. 1.2e10 at scale 18 needs 29 digits)
    CTX = Context(prec=60)

    LMAX = (1 << 63) - 1
    TEN10 = Decimal(10) ** 10
    TEN19 = Decimal(10) ** 19
    TEN20 = Decimal(10) ** 20
    Q9 = Decimal(1).scaleb(-9)
    Q17 = Decimal(1).scaleb(-17)
    Q18 = Decimal(1).scaleb(-18)
    Q19 = Decimal(1).scaleb(-19)

    def wrap64(v):
        v &= (1 << 64) - 1
        return v - (1 << 64) if v > LMAX else v

    def kind(dt) -> str:
        if isinstance(dt, T.DecimalType):
            return "dec"
        if is_integral(dt):
            return "long"
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return "double"
        if isinstance(dt, T.StringType):
            return "str"
        if isinstance(dt, T.BooleanType):
            return "bool"
        raise ConfigError(
            f"streaming fold: unsupported value type {dt.simpleString()}")

    def to19_9(v, k):
        """try_cast to decimal(19,9): HALF_UP, overflow ⇒ None."""
        if v is None:
            return None
        if k == "long":
            return None if abs(v) >= 10 ** 10 else Decimal(v)
        q = v.quantize(Q9, rounding=ROUND_HALF_UP, context=CTX)
        return None if abs(q) >= TEN10 else q

    def cast_value(k_from: str, k_to: str):
        """Mirror Column.cast between the DSL's storage kinds."""
        if k_from == k_to:
            if k_to == "dec":
                def f(v):
                    if v is None:
                        return None
                    q = v.quantize(Q18, rounding=ROUND_HALF_UP, context=CTX)
                    return None if abs(q) >= TEN20 else q
                return f
            return lambda v: v
        if k_to == "dec":
            if k_from == "long":
                return lambda v: None if v is None else Decimal(v)
            if k_from == "double":
                def f(v):
                    if v is None or v != v or v in (float("inf"), float("-inf")):
                        return None
                    with localcontext() as ctx:
                        ctx.prec = 60
                        q = Decimal(repr(v)).quantize(Q18, rounding=ROUND_HALF_UP, context=CTX)
                    return None if abs(q) >= TEN20 else q
                return f
        if k_to == "long":
            if k_from == "dec":
                def f(v):
                    if v is None:
                        return None
                    t = int(v)  # truncates toward zero, like Spark
                    return t if -(1 << 63) <= t <= LMAX else None
                return f
            if k_from == "double":
                def f(v):
                    if v is None or v != v or v in (float("inf"), float("-inf")):
                        return None
                    t = int(v)
                    return t if -(1 << 63) <= t <= LMAX else None
                return f
            if k_from == "bool":
                return lambda v: None if v is None else int(v)
        if k_to == "double":
            return lambda v: None if v is None else float(v)
        if k_to == "str":
            if k_from == "dec":
                return lambda v: None if v is None else f"{v:f}"
            return lambda v: None if v is None else str(v).lower() \
                if isinstance(v, bool) else (None if v is None else str(v))
        raise ConfigError(f"streaming fold: cannot cast {k_from} -> {k_to}")

    def compile_node(expr):
        """AST -> (pyfn(row, memo) -> value, dtype). Structure mirrors
        compile_expr; typing decisions are IDENTICAL calls."""
        if isinstance(expr, Literal):
            v = expr.value
            if isinstance(v, bool):
                return (lambda row, memo, _v=v: _v), T.BooleanType()
            if isinstance(v, int):
                return (lambda row, memo, _v=v: _v), T.LongType()
            if isinstance(v, str):
                return (lambda row, memo, _v=v: _v), T.StringType()
            d = Decimal(v)
            return (lambda row, memo, _v=d: _v), DECIMAL
        if isinstance(expr, ColumnRef):
            dtype = field_type(schema, expr.name)
            if "." in expr.name:
                parts = tuple(expr.name.split("."))

                def f(row, memo, _p=parts):
                    cur = row
                    for seg in _p:
                        if cur is None:
                            return None
                        cur = cur[seg]
                    return cur
                return f, dtype
            n = expr.name
            return (lambda row, memo, _n=n: row[_n]), dtype
        if isinstance(expr, MemoRef):
            if expr.name not in mtypes:
                raise ConfigError(f"unknown memo.{expr.name}")
            n = expr.name
            return (lambda row, memo, _n=n: memo[_n]), mtypes[n]
        if isinstance(expr, BinOp):
            lf, ldt = compile_node(expr.left)
            rf, rdt = compile_node(expr.right)
            if expr.op in ARITH_OPS_:
                return arith_node(expr.op, lf, ldt, rf, rdt)
            if expr.op in CMP_OPS_:
                return compare_node(expr.op, lf, ldt, rf, rdt)
            if expr.op in BOOL_OPS_:
                if not (isinstance(ldt, T.BooleanType)
                        and isinstance(rdt, T.BooleanType)):
                    raise ExpressionError_(
                        f"{expr.op!r} requires boolean operands")
                if expr.op == "&&":
                    def f(row, memo):
                        a, b = lf(row, memo), rf(row, memo)
                        if a is False or b is False:
                            return False
                        if a is None or b is None:
                            return None
                        return True
                else:
                    def f(row, memo):
                        a, b = lf(row, memo), rf(row, memo)
                        if a is True or b is True:
                            return True
                        if a is None or b is None:
                            return None
                        return False
                return f, T.BooleanType()
            raise ExpressionError_(f"unknown operator {expr.op!r}")
        if isinstance(expr, FuncCall):
            return func_node(expr)
        raise ExpressionError_(f"cannot compile {expr!r}")

    def arith_node(op, lf, ldt, rf, rdt):
        if op == "+" and isinstance(ldt, T.StringType) and isinstance(rdt, T.StringType):
            def f(row, memo):
                a, b = lf(row, memo), rf(row, memo)
                return None if a is None or b is None else a + b
            return f, T.StringType()
        if not (is_numeric(ldt) and is_numeric(rdt)):
            raise ExpressionError_(f"operator {op!r} not defined for {ldt} and {rdt}")
        if op == "^":
            def f(row, memo):
                a, b = lf(row, memo), rf(row, memo)
                if a is None or b is None:
                    return None
                return float(a) ** float(b)
            return f, T.DoubleType()
        out = promote(ldt, rdt)
        lk, rk = kind(ldt), kind(rdt)
        if op == "/":
            if is_integral(out):
                def f(row, memo):
                    a, b = lf(row, memo), rf(row, memo)
                    if a is None or b is None or b == 0:
                        return None
                    q = abs(a) // abs(b)
                    return q if (a < 0) == (b < 0) else -q
                return f, T.LongType()
            if isinstance(out, T.DecimalType):
                def f(row, memo):
                    a = to19_9(lf(row, memo), lk)
                    b = to19_9(rf(row, memo), rk)
                    if a is None or b is None or b == 0:
                        return None
                    with localcontext() as ctx:
                        ctx.prec = 60
                        q = (a / b).quantize(Q19, rounding=ROUND_HALF_UP, context=CTX)
                    if abs(q) >= TEN19:
                        return None
                    return q.quantize(Q18, rounding=ROUND_HALF_UP, context=CTX)
                return f, DECIMAL
            def f(row, memo):
                a, b = lf(row, memo), rf(row, memo)
                if a is None or b is None or float(b) == 0.0:
                    return None
                return float(a) / float(b)
            return f, T.DoubleType()
        if isinstance(out, T.DecimalType):
            if op == "*":
                def f(row, memo):
                    a = to19_9(lf(row, memo), lk)
                    b = to19_9(rf(row, memo), rk)
                    if a is None or b is None:
                        return None
                    with localcontext() as ctx:
                        ctx.prec = 60
                        p = (a * b).quantize(Q17, rounding=ROUND_HALF_UP, context=CTX)
                    return None if abs(p) >= TEN20 * 10 else p
                return f, DECIMAL
            sign = 1 if op == "+" else -1

            def f(row, memo):
                a = to19_9(lf(row, memo), lk)
                b = to19_9(rf(row, memo), rk)
                if a is None or b is None:
                    return None
                return a + b if sign == 1 else a - b
            return f, DECIMAL
        if is_integral(out):
            pyop = {"+": lambda a, b: a + b, "-": lambda a, b: a - b,
                    "*": lambda a, b: a * b}[op]

            def f(row, memo, _op=pyop):
                a, b = lf(row, memo), rf(row, memo)
                if a is None or b is None:
                    return None
                return wrap64(_op(a, b))
            return f, T.LongType()
        pyop = {"+": lambda a, b: a + b, "-": lambda a, b: a - b,
                "*": lambda a, b: a * b}[op]

        def f(row, memo, _op=pyop):
            a, b = lf(row, memo), rf(row, memo)
            if a is None or b is None:
                return None
            return _op(float(a), float(b))
        return f, T.DoubleType()

    def compare_node(op, lf, ldt, rf, rdt):
        if is_numeric(ldt) and is_numeric(rdt):
            out = promote(ldt, rdt)
            conv = (Decimal if isinstance(out, T.DecimalType)
                    else float if isinstance(out, T.DoubleType) else int)
        elif isinstance(ldt, T.BooleanType) and isinstance(rdt, T.BooleanType):
            if op not in ("==", "!="):
                raise ExpressionError_(
                    f"operator {op!r} not defined for Bool (only == and !=)")
            conv = None
        elif isinstance(ldt, T.StringType) and isinstance(rdt, T.StringType):
            conv = None
        else:
            raise ExpressionError_(
                f"streaming fold: operator {op!r} not defined for "
                f"{ldt.simpleString()} and {rdt.simpleString()}")
        import operator as _op_mod
        pyop = {"<": _op_mod.lt, ">": _op_mod.gt, "<=": _op_mod.le,
                ">=": _op_mod.ge, "==": _op_mod.eq, "!=": _op_mod.ne}[op]

        def f(row, memo, _c=conv, _o=pyop):
            a, b = lf(row, memo), rf(row, memo)
            if a is None or b is None:
                return None
            if _c is not None:
                a, b = _c(a), _c(b)
            return bool(_o(a, b))
        return f, T.BooleanType()

    def func_node(expr):
        name = expr.name
        if name == "round":
            if len(expr.args) not in (1, 2):
                raise ExpressionError_("round() takes 1 or 2 args")
            af, adt = compile_node(expr.args[0])
            scale = 0
            if len(expr.args) == 2:
                s = expr.args[1]
                if not (isinstance(s, Literal) and isinstance(s.value, int)):
                    raise ExpressionError_("round() scale must be an integer literal")
                scale = s.value
            k = kind(adt)
            q = Decimal(1).scaleb(-scale)

            def f(row, memo):
                v = af(row, memo)
                if v is None:
                    return None
                if k == "long":
                    r = int(Decimal(v).quantize(q, rounding=ROUND_HALF_UP, context=CTX))
                    return wrap64(r)
                if k == "dec":
                    return v.quantize(q, rounding=ROUND_HALF_UP, context=CTX)
                if v != v or v in (float("inf"), float("-inf")):
                    return v
                return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP, context=CTX))
            return f, adt
        args = [compile_node(a) for a in expr.args]
        if name == "abs":
            af, adt = args[0]
            if not is_numeric(adt):
                raise ExpressionError_("abs() arg 1 must be numeric")
            def f(row, memo):
                v = af(row, memo)
                if v is None:
                    return None
                if isinstance(v, int):
                    return wrap64(abs(v))
                return abs(v)
            return f, adt
        if name in ("floor", "ceil"):
            af, adt = args[0]
            if not is_numeric(adt):
                raise ExpressionError_(f"{name}() arg 1 must be numeric")
            up = name == "ceil"

            def f(row, memo):
                v = af(row, memo)
                if v is None:
                    return None
                if isinstance(v, float) and (v != v or v in (
                        float("inf"), float("-inf"))):
                    return None
                r = math.ceil(v) if up else math.floor(v)
                return r if -(1 << 63) <= r <= LMAX else None
            return f, T.LongType()
        if name == "sqrt":
            af, adt = args[0]
            if not is_numeric(adt):
                raise ExpressionError_("sqrt() arg 1 must be numeric")

            def f(row, memo):
                v = af(row, memo)
                if v is None:
                    return None
                v = float(v)
                return float("nan") if v < 0 else math.sqrt(v)
            return f, T.DoubleType()
        if name == "length":
            af, adt = args[0]
            if not isinstance(adt, (T.StringType, T.ArrayType)):
                raise ExpressionError_("length() arg 1 must be a string or array")

            def f(row, memo):
                v = af(row, memo)
                return None if v is None else len(v)
            return f, T.LongType()
        if name in ("upper", "lower"):
            af, adt = args[0]
            if not isinstance(adt, T.StringType):
                raise ExpressionError_(f"{name}() arg 1 must be a string")
            up = name == "upper"

            def f(row, memo):
                v = af(row, memo)
                if v is None:
                    return None
                return v.upper() if up else v.lower()
            return f, T.StringType()
        if name == "concat":
            if not args:
                raise ExpressionError_("concat() needs at least one arg")
            for _af, adt in args:
                if not isinstance(adt, T.StringType):
                    raise ExpressionError_("concat() args must be strings")
            fns = tuple(a for a, _ in args)

            def f(row, memo):
                parts = [fn(row, memo) for fn in fns]
                if any(p is None for p in parts):
                    return None
                return "".join(parts)
            return f, T.StringType()
        if name == "coalesce":
            if not args:
                raise ExpressionError_("coalesce() needs at least one arg")
            out = args[0][1]
            if any(adt != out for _af, adt in args):
                for _af, adt in args[1:]:
                    out = promote(out, adt)
            casts = tuple(cast_value(kind(adt), kind(out)) for _af, adt in args)
            fns = tuple(a for a, _ in args)

            def f(row, memo):
                for fn, cv in zip(fns, casts):
                    v = fn(row, memo)
                    if v is not None:
                        return cv(v)
                return None
            return f, out
        raise ExpressionError_(f"streaming fold: unknown function {name!r}")

    stmts = []
    inits = {}
    for st in cfg.functions:
        mk = kind(mtypes[st.dest])
        inits[st.dest] = {"long": 0, "dec": Decimal(0), "double": 0.0,
                          "str": "0", "bool": False}[mk]
        fn, dt = compile_node(st.expr)
        stmts.append((st.dest, fn, cast_value(kind(dt), mk)))
    stmts = tuple(stmts)

    def apply_row(row, memo):
        for dest, fn, cast in stmts:
            memo[dest] = cast(fn(row, memo))

    return apply_row, inits
