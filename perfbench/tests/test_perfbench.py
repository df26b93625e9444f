"""Smoke test of the benchmark. Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Tiny runs (sf0.001, one block of ops, two suite queries) must print every
metric BENCHMARK.json names, with its unit; every correctness check must
reject a deliberately corrupted result; and the launcher must refuse to
run without the program next to it.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, ROOT)

import checks  # noqa: E402
import oltp_wire  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric_with_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        n: m["unit"] for n, m in result["metrics"].items()}
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "oltp_wire", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- correctness checks reject corrupted results -----------------------------

def _oltp_states():
    orders = [
        {"_entryId": "a", "o_orderkey": 1, "o_custkey": 7,
         "o_totalprice": Decimal("10.00"), "o_orderstatus": "O"},
        {"_entryId": "b", "o_orderkey": 2, "o_custkey": 7,
         "o_totalprice": Decimal("20.50"), "o_orderstatus": "F"},
        {"_entryId": "c", "o_orderkey": 3, "o_custkey": 8,
         "o_totalprice": Decimal("5.10"), "o_orderstatus": "O"},
    ]
    order_net = [{"_entryId": "n" + r["_entryId"], "_sourceEntryId": r["_entryId"],
                  "o_custkey": r["o_custkey"], "net": r["o_totalprice"] * Decimal("0.9"),
                  "o_orderstatus": r["o_orderstatus"]} for r in orders]
    open_net = [{"_sourceEntryId": r["_entryId"], "o_custkey": r["o_custkey"],
                 "net": r["net"], "o_orderstatus": "O"}
                for r in order_net if r["o_orderstatus"] == "O"]
    return {
        "orders": orders, "order_net": order_net, "open_net": open_net,
        "cust_open": [{"aggregatedColumn": 7, "n": 1, "total": Decimal("9.000")},
                      {"aggregatedColumn": 8, "n": 1, "total": Decimal("4.590")}],
        "cust_all": [{"aggregatedColumn": 7, "n": 2, "total": Decimal("30.50")},
                     {"aggregatedColumn": 8, "n": 1, "total": Decimal("5.10")}],
        "cust_status": [{"o_custkey": 7, "o_orderstatus": "O"},
                        {"o_custkey": 7, "o_orderstatus": "F"},
                        {"o_custkey": 8, "o_orderstatus": "O"}],
    }


def test_recompute_check_accepts_consistent_state():
    assert oltp_wire.recompute_problems(_oltp_states()) == []


@pytest.mark.parametrize("table,column,value", [
    ("order_net", "net", Decimal("1")),
    ("open_net", "o_custkey", 99),
    ("cust_open", "total", Decimal("9.001")),
    ("cust_all", "n", 3),
    ("cust_status", "o_orderstatus", "P"),
])
def test_recompute_check_rejects_corrupted_table(table, column, value):
    states = copy.deepcopy(_oltp_states())
    states[table][0][column] = value
    assert any(p.startswith(table) for p in oltp_wire.recompute_problems(states))


def test_recompute_check_rejects_missing_row():
    states = copy.deepcopy(_oltp_states())
    states["cust_all"].pop()
    assert oltp_wire.recompute_problems(states)


def _model():
    return oltp_wire.Model([1, 2], [7, 8], [1000, 2050], ["O", "F"])


def test_model_check_rejects_corrupted_source():
    rows = [_model().order_row(k) for k in (1, 2)]
    assert oltp_wire.model_problems(_model(), rows) == []
    rows[1]["o_totalprice"] = Decimal("20.51")
    assert oltp_wire.model_problems(_model(), rows)


def _entry(row):
    return oltp_wire.wire.row_to_entry(row)


def test_wire_response_check_rejects_wrong_lookup():
    model = _model()
    gen = oltp_wire.LoadGenerator(1, model, n_customers=10)
    op = gen._op("find:cust_all")
    want = op.expect
    op.response = {"OneResult": {"Ok": None if want is None else _entry(want)}}
    assert oltp_wire.verify_op(op) == []
    wrong = dict(want or {"aggregatedColumn": 1, "n": 1, "total": Decimal(1)})
    wrong["n"] += 1
    op.response = {"OneResult": {"Ok": _entry(wrong)}}
    assert oltp_wire.verify_op(op)


def test_wire_event_check_rejects_wrong_event():
    model = _model()
    gen = oltp_wire.LoadGenerator(1, model, n_customers=10)
    op = gen._op("insert:O")
    op.response = {"ManyResults": {"Ok": [_entry(r) for r in op.expect]}}
    event = {"Event": {"table_name": oltp_wire.LISTENED, "event": "Insert",
                       "value": {"ManyResults": {"Ok": [_entry(op.expect_event)]}}}}
    op.event = event
    assert oltp_wire.verify_op(op) == []
    bad = copy.deepcopy(event)
    bad["Event"]["value"]["ManyResults"]["Ok"][0]["total"] = {"Decimal": "0.001"}
    op.event = bad
    assert oltp_wire.verify_op(op)


def test_oracle_check_rejects_corrupted_query_result():
    oracle = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert checks.compare_frames("q", oracle.iloc[::-1], oracle) == []
    corrupted = oracle.copy()
    corrupted.loc[1, "v"] = 1.2500000000000002
    assert checks.compare_frames("q", corrupted, oracle)
    assert checks.compare_frames("q", oracle.rename(columns={"v": "w"}), oracle)
