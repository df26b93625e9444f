"""The commit write path: the store's one write primitive, its driver
(Arrow) and Spark writers, the wire response read from delta files, null
aggregation, dedup and top-k keys, and the Spark work a one-row commit
submits."""

import json
import os
from decimal import Decimal

from pyspark.sql.readwriter import DataFrameWriter

from reactivedb_spark import Engine
from reactivedb_spark import store as store_mod
from reactivedb_spark.networking import ReactiveDBServer, wire
from reactivedb_spark.operators import aggregation as agg_op
from reactivedb_spark.operators import dedup_transform as dedup_tr_op
from reactivedb_spark.operators import topk_transform as topk_tr_op

MATRIX_CFG = {"tables": [
    {"Source": {"name": "src", "columns": {
        "k": "Integer", "d": "Decimal", "s": "Str", "b": "Bool", "id": "ID",
        "f": "Float", "a": {"Array": "Integer"},
        "m": {"Map": {"x": "Integer", "y": "Str"}}}}},
    {"Derived": {"name": "fn", "transform_definition": {"FunctionTransform": {
        "source_table": "src",
        "functions": ["k ~ k", "dd ~ d * 2", "ff ~ f / 3"]}}}},
    {"Derived": {"name": "agg", "transform_definition": {"AggregationTransform": {
        "source_table": "src", "aggregated_column": "s",
        "functions": ["n ~ memo.n + 1", "t ~ memo.t + d"]}}}},
]}

MATRIX_ROWS = [
    [{"k": 1, "d": Decimal("12.345678901234567891"), "s": "x", "b": True,
      "id": "6f1c1d2e-0000-4000-8000-000000000001", "f": 1.5, "a": [1, None, 3],
      "m": {"x": 7, "y": None}},
     {"k": 2, "d": None, "s": None, "b": None, "id": None, "f": None, "a": None,
      "m": None}],
    [{"k": 3, "d": Decimal("-1"), "s": "x", "b": False,
      "id": "6f1c1d2e-0000-4000-8000-000000000003", "f": -2.25, "a": [],
      "m": {"x": None, "y": "q"}}],
]


def _reference_entries(report) -> list:
    """The wire response as a Spark collect of every delta builds it."""
    return [wire.row_to_entry(r.asDict(recursive=True))
            for d in report.values() for df in (d.inserts, d.deletes)
            if df is not None for r in df.drop("_seq", "_kb").collect()]


def _canon(entries) -> list:
    """Entries as sorted JSON, generated entry ids masked (they differ
    between two engines)."""
    out = []
    for e in entries:
        e = dict(e)
        for c in ("_entryId", "_sourceEntryId"):
            if c in e:
                assert set(e[c]) == {"ID"}
                e[c] = {"ID": "*"}
        out.append(json.dumps(e, sort_keys=True))
    return sorted(out)


def _run_matrix(spark, workspace):
    eng = Engine(spark, MATRIX_CFG, workspace=workspace)
    server = ReactiveDBServer(eng)
    try:
        responses = []
        for rows in MATRIX_ROWS:
            report = eng.insert("src", rows)
            got = server._committed_entries(report)
            assert _canon(got) == _canon(_reference_entries(report))
            responses.append(_canon(got))
        report = eng.delete("src", "k", 1)
        got = server._committed_entries(report)
        assert sorted(map(json.dumps, got)) == sorted(
            map(json.dumps, _reference_entries(report)))
        responses.append(_canon(got))
    finally:
        server._tcp.server_close()
    tables = {
        t: sorted(repr(r) for r in eng.table(t).drop(
            "_entryId", "_sourceEntryId").collect())
        for t in eng.tables
    }
    fn_files = [f for f in os.listdir(eng.store._dir("fn")) if f.endswith(".parquet")]
    return responses, tables, fn_files


def test_driver_and_spark_writers_agree_on_every_type(spark, tmp_path, monkeypatch):
    driver = _run_matrix(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(store_mod, "DRIVER_WRITE_LIMIT", -1)  # Spark's writer
    spark_run = _run_matrix(spark, str(tmp_path / "spark"))
    # each run really took its path
    assert driver[2] and all(f.startswith("part-pa-") for f in driver[2])
    assert spark_run[2] and not any(f.startswith("part-pa-") for f in spark_run[2])
    assert driver[0] == spark_run[0]
    assert driver[1] == spark_run[1]
    # the keyed table is _kb-partitioned on both paths
    assert any(r.startswith("Row(aggregatedColumn='x', n=1") for r in driver[1]["agg"])


NULL_CFG = {"tables": [
    {"Source": {"name": "ev", "columns": {"g": "Str", "v": "Integer"}}},
    {"Derived": {"name": "by_g", "transform_definition": {"AggregationTransform": {
        "source_table": "ev", "aggregated_column": "g",
        "functions": ["n ~ memo.n + 1", "t ~ memo.t + v"]}}}},
]}


def test_null_aggregation_key_is_one_group(spark, workspace):
    """Incremental state equals a batch recompute, which yields ONE null
    group, across inserts (null-only and mixed) and deletes."""
    eng = Engine(spark, NULL_CFG, workspace=workspace)
    tr = eng.tables["by_g"].transform

    def check():
        cols = ["aggregatedColumn", "n", "t"]
        got = sorted(map(tuple, eng.table("by_g").select(*cols).collect()), key=repr)
        want = sorted(map(tuple, agg_op.compute_groups(tr, eng.store.read("ev"))
                          .select(*cols).collect()), key=repr)
        assert got == want

    for v in (1, 2, 3):
        eng.insert("ev", [{"g": None, "v": v}])
    check()
    assert eng.find_one("by_g", "n", 3) is not None
    eng.insert("ev", [{"g": "a", "v": 10}, {"g": None, "v": 4}])
    check()
    eng.delete("ev", "v", 2)
    check()
    eng.delete("ev", "v", 10)
    check()


NULL_KEYED_CFG = {"tables": [
    {"Source": {"name": "ev", "columns": {"g": "Str", "v": "Integer"}}},
    {"Derived": {"name": "first_g", "transform_definition": {"DedupTransform": {
        "source_table": "ev", "key": "g"}}}},
    {"Derived": {"name": "top_g", "transform_definition": {"TopKTransform": {
        "source_table": "ev", "group_by": "g", "order_by": "v", "k": 2}}}},
]}


def test_null_dedup_and_topk_keys_are_one_key(spark, workspace):
    """Dedup and TopK state equal a batch ``representatives`` / ``topk``
    over the source, where null keys form ONE key, across commits that
    each bring null-key rows and deletes of the null key's members."""
    eng = Engine(spark, NULL_KEYED_CFG, workspace=workspace)
    dd, tk = eng.tables["first_g"].transform, eng.tables["top_g"].transform

    def members(df):
        return sorted(r[0] for r in df.select("_sourceEntryId").collect())

    def check():
        ev = eng.store.read("ev")
        assert members(eng.table("first_g")) == members(dedup_tr_op.representatives(dd, ev))
        assert members(eng.table("top_g")) == members(
            topk_tr_op.topk(tk, topk_tr_op.to_child(tk, ev)))

    for v in (1, 5, 3):
        eng.insert("ev", [{"g": None, "v": v}])
    check()
    eng.insert("ev", [{"g": "a", "v": 10}, {"g": None, "v": 4}])
    check()
    eng.delete("ev", "v", 1)  # the null key's representative
    check()
    eng.delete("ev", "v", 5)  # a null-group top-k member: refill
    check()


COMMIT_CFG = {"tables": [
    {"Source": {"name": "orders", "columns": {
        "o_orderkey": "Integer", "o_custkey": "Integer",
        "o_totalprice": "Decimal", "o_orderstatus": "Str"}}},
    {"Derived": {"name": "order_net", "transform_definition": {"FunctionTransform": {
        "source_table": "orders",
        "functions": ["o_custkey ~ o_custkey", "net ~ o_totalprice * 0.9",
                      "o_orderstatus ~ o_orderstatus"]}}}},
    {"Derived": {"name": "open_net", "transform_definition": {"FilterTransform": {
        "source_table": "order_net", "filter": 'o_orderstatus == "O"'}}}},
    {"Derived": {"name": "cust_open", "transform_definition": {"AggregationTransform": {
        "source_table": "open_net", "aggregated_column": "o_custkey",
        "functions": ["n ~ memo.n + 1", "total ~ memo.total + net"]}}}},
    {"Derived": {"name": "cust_all", "transform_definition": {"AggregationTransform": {
        "source_table": "orders", "aggregated_column": "o_custkey",
        "functions": ["n ~ memo.n + 1", "total ~ memo.total + o_totalprice"]}}}},
    {"Derived": {"name": "cust_status", "transform_definition": {"DistinctTransform": {
        "source_table": "orders", "columns": ["o_custkey", "o_orderstatus"]}}}},
]}

# Spark jobs of one one-row insert of an open order into COMMIT_CFG at
# local[4]: none. Every child takes the local commit path, whose Spark
# projections run over local relations that Catalyst folds, so their
# collects submit no job, and every write goes through the Arrow writer.
MAX_JOBS_PER_INSERT = 0


def test_one_row_commit_runs_no_spark_write_and_no_probe(spark, workspace, monkeypatch):
    eng = Engine(spark, COMMIT_CFG, workspace=workspace)
    eng.insert("orders", [
        {"o_orderkey": i, "o_custkey": i % 5, "o_totalprice": Decimal(i),
         "o_orderstatus": "OF"[i % 2]} for i in range(20)])
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    calls = []

    def record(name, orig):
        def wrapped(*a, **k):
            calls.append(name)
            return orig(*a, **k)
        return wrapped

    monkeypatch.setattr(DataFrameWriter, "parquet",
                        record("DataFrameWriter.parquet", DataFrameWriter.parquet))
    jobs = []
    for key in range(100, 104):
        j0 = dag.nextJobId()
        report = eng.insert("orders", [{"o_orderkey": key, "o_custkey": 2,
                                        "o_totalprice": Decimal("1.5"),
                                        "o_orderstatus": "O"}])
        jobs.append(dag.nextJobId() - j0)
        # cust_status only moves a refcount: no delta, no event
        assert set(report) == set(eng.tables) - {"cust_status"}
    assert calls == []
    assert len(set(jobs[1:])) == 1, jobs
    assert jobs[-1] <= MAX_JOBS_PER_INSERT, jobs
