"""``oltp_wire``: the paper's own traffic over the reference wire protocol.

One closed-loop client speaks the length-prefixed JSON protocol to a
``ReactiveDBServer`` in the same process; one subscriber connection
listens for ``Insert`` events on the deepest derived table. Committed
state is preloaded from the generated ``orders`` table through one
``Engine.insert_df`` batch.

The derived-table DAG is the anchor chain (function -> filter ->
aggregation) plus an aggregation directly on the source and a
reference-counted distinct, so every insert reaches keyed state through
two keyed transform kinds::

    orders --Function--> order_net --Filter--> open_net --Aggregation--> cust_open
       |--Aggregation--> cust_all
       `--Distinct-----> cust_status

The load generator is seeded. Its ops come in blocks of eleven in a fixed
order: six inserts (two of each order status), two keyed ``FindOne`` on
``cust_all``, two ``FindOne`` on the source and one ``DeleteData`` of an
open order the client inserted. Keys, prices and delete targets are drawn
from the seed, customer keys Zipf-skewed. The timed region runs whole
blocks, as many as fit the run's time at a nominal block length, so every
run measures the same mix. The generator keeps its own model of the
committed state, from which it knows every expected response and listener
event. The client waits for each expected event before its next op.
"""

from __future__ import annotations

import queue
import socket
import threading
import time
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

from checks import compare_multisets
from reactivedb_spark.networking import wire

SOURCE = "orders"
LISTENED = "cust_open"
DERIVED = ("order_net", "open_net", "cust_open", "cust_all", "cust_status")
DAG = {"tables": [
    {"Source": {"name": "orders", "columns": {
        "o_orderkey": "Integer", "o_custkey": "Integer",
        # Decimal, not Float: the wire carries non-integers as Decimal
        # strings, which a Float column rejects
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

# A fixed op order: a commit's latency depends on how warm the JVM is, so
# every run puts each op kind at the same positions.
BLOCK = ("insert:O", "find:cust_all", "insert:F", "find:orders", "insert:P",
         "delete:O", "insert:O", "find:cust_all", "insert:F", "find:orders",
         "insert:P")
WARMUP = ("insert:O", "find:cust_all", "insert:F", "find:orders", "delete:O")
BLOCK_S = 20  # nominal seconds per block at 4 cores, for the block count
EVENT_TIMEOUT_S = 60.0


def _cents_to_decimal(cents: int, places: int = 2) -> Decimal:
    return Decimal(cents).scaleb(-places)


class Model:
    """The load generator's own view of the committed state. Prices are
    kept in integer cents, so every expected value is exact."""

    def __init__(self, keys, custs, cents, statuses):
        self.orders = {int(k): (int(c), int(p), s)
                       for k, c, p, s in zip(keys, custs, cents, statuses)}
        self.all_groups: dict[int, list] = {}   # cust -> [n, cents]
        self.open_groups: dict[int, list] = {}  # cust -> [n, cents]
        for c, p, s in self.orders.values():
            self._add(c, p, s, +1)
        self.next_key = max(self.orders) + 1
        self.inserted: list[int] = []

    def _add(self, cust: int, cents: int, status: str, sign: int) -> None:
        groups = [self.all_groups] + ([self.open_groups] if status == "O" else [])
        for g in groups:
            n, total = g.get(cust, (0, 0))
            n, total = n + sign, total + sign * cents
            if n:
                g[cust] = [n, total]
            else:
                g.pop(cust, None)

    def insert(self, key: int, cust: int, cents: int, status: str) -> None:
        self.orders[key] = (cust, cents, status)
        self._add(cust, cents, status, +1)
        self.inserted.append(key)

    def delete(self, key: int) -> tuple:
        cust, cents, status = self.orders.pop(key)
        self._add(cust, cents, status, -1)
        return cust, cents, status

    def all_row(self, cust: int):
        g = self.all_groups.get(cust)
        return None if g is None else {
            "aggregatedColumn": cust, "n": g[0], "total": _cents_to_decimal(g[1])}

    def open_row(self, cust: int):
        g = self.open_groups.get(cust)
        # net = price * 0.9, i.e. 9 * cents thousandths
        return None if g is None else {
            "aggregatedColumn": cust, "n": g[0], "total": _cents_to_decimal(9 * g[1], 3)}

    def order_row(self, key: int):
        o = self.orders.get(key)
        return None if o is None else {
            "o_orderkey": key, "o_custkey": o[0],
            "o_totalprice": _cents_to_decimal(o[1]), "o_orderstatus": o[2]}


class Op:
    __slots__ = ("kind", "query", "expect", "expect_event", "t_send", "t_resp",
                 "response", "t_event", "event")

    def __init__(self, kind, query, expect, expect_event):
        self.kind, self.query = kind, query
        self.expect, self.expect_event = expect, expect_event
        self.t_send = self.t_resp = self.t_event = None
        self.response = self.event = None


class LoadGenerator:
    """Seeded op stream; the model advances as ops are generated, so the
    stream depends on the seed only, never on responses."""

    def __init__(self, seed: int, model: Model, n_customers: int):
        self.rng = np.random.default_rng(seed + 7919)
        self.model = model
        self.n_customers = n_customers
        self.hot = self.rng.permutation(n_customers)

    def _cust(self) -> int:
        rank = min(int(self.rng.zipf(1.3)) - 1, self.n_customers - 1)
        return int(self.hot[rank])

    def block(self, kinds=BLOCK) -> list[Op]:
        return [self._op(k) for k in kinds]

    def _op(self, kind: str) -> Op:
        m = self.model
        if kind.startswith("insert"):
            status = kind.split(":")[1]
            key, cust = m.next_key, self._cust()
            m.next_key += 1
            cents = int(self.rng.integers(100_000, 50_000_000))
            m.insert(key, cust, cents, status)
            entry = {"o_orderkey": {"Integer": key}, "o_custkey": {"Integer": cust},
                     "o_totalprice": {"Decimal": str(_cents_to_decimal(cents))},
                     "o_orderstatus": {"Str": status}}
            return Op("insert", {"InsertData": {"table": SOURCE, "entry": entry}},
                      [m.order_row(key), m.all_row(cust)],
                      m.open_row(cust) if status == "O" else None)
        if kind == "find:cust_all":
            cust = self._cust()
            return Op("lookup", {"FindOne": {"table": "cust_all",
                                             "column": "aggregatedColumn",
                                             "key": {"Integer": cust}}},
                      m.all_row(cust), None)
        if kind == "find:orders":
            key = int(self.rng.integers(0, m.next_key))
            return Op("lookup", {"FindOne": {"table": SOURCE, "column": "o_orderkey",
                                             "key": {"Integer": key}}},
                      m.order_row(key), None)
        # delete:O -- an open order this client inserted, so every delete
        # cascades through the listened aggregate
        live = [k for k in m.inserted if k in m.orders and m.orders[k][2] == "O"]
        key = live[int(self.rng.integers(0, len(live)))]
        row = m.order_row(key)
        cust, _cents, status = m.delete(key)
        return Op("delete", {"DeleteData": {"table": SOURCE, "column": "o_orderkey",
                                            "key": {"Integer": key}}},
                  [row], m.open_row(cust) if status == "O" else None)


class WireClient:
    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rid = 0

    def request(self, query: dict) -> dict:
        self.rid += 1
        wire.write_frame(self.sock, {"Query": {"request_id": self.rid, "query": query}})
        msg = wire.read_frame(self.sock)
        if msg is None:
            raise ConnectionError("server closed the connection")
        return msg["RequestResponse"]["response"]

    def close(self) -> None:
        self.sock.close()


class Subscriber(threading.Thread):
    """One StartListen connection; queues (arrival time, event) pairs."""

    def __init__(self, host: str, port: int, table: str):
        super().__init__(daemon=True, name="perfbench-subscriber")
        self.sock = socket.create_connection((host, port))
        wire.write_frame(self.sock, {"StartListen": {"table_name": table, "event": "Insert"}})
        self.events: queue.Queue = queue.Queue()

    def run(self) -> None:
        try:
            while True:
                msg = wire.read_frame(self.sock)
                if msg is None:
                    return
                self.events.put((time.perf_counter(), msg))
        except OSError:
            return

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.join(10)


def _result(response: dict):
    """(ok, payload) of a OneResult / ManyResults / NoResult response."""
    (_kind, res), = response.items()
    if "Err" in res:
        return False, res["Err"]
    return True, res["Ok"]


def _matches(row: dict, expect: dict) -> bool:
    return all(row.get(k) == v for k, v in expect.items())


def verify_op(op: Op) -> list[str]:
    """Problems with one op's response and event against the model."""
    problems = []
    ok, payload = _result(op.response)
    if not ok:
        return problems  # counted as a failed op, not a wrong answer
    if op.kind == "lookup":
        got = None if payload is None else wire.entry_to_python(payload)
        if (got is None) != (op.expect is None) or (
                got is not None and not _matches(got, op.expect)):
            problems.append(f"FindOne {op.query['FindOne']}: got {got}, expected {op.expect}")
    else:
        rows = [wire.entry_to_python(e) for e in payload]
        for want in op.expect:
            if want is not None and not any(_matches(r, want) for r in rows):
                problems.append(f"{op.kind}: response lacks {want}")
    if op.expect_event is not None and op.event is not None:
        ev = op.event["Event"]
        rows = [wire.entry_to_python(e) for e in ev["value"]["ManyResults"]["Ok"]]
        if ev["table_name"] != LISTENED or not any(
                _matches(r, op.expect_event) for r in rows):
            problems.append(f"{op.kind}: event {rows} lacks {op.expect_event}")
    return problems


def recompute_problems(states: dict[str, list[dict]]) -> list[str]:
    """Each derived table against a batch recompute over its parents'
    final state (rows as dicts, business and provenance columns)."""
    orders, order_net = states["orders"], states["order_net"]
    problems = compare_multisets(
        "order_net",
        [(r["_sourceEntryId"], r["o_custkey"], r["net"], r["o_orderstatus"]) for r in order_net],
        [(r["_entryId"], r["o_custkey"], r["o_totalprice"] * Decimal("0.9"), r["o_orderstatus"])
         for r in orders])
    problems += compare_multisets(
        "open_net",
        [(r["_sourceEntryId"], r["o_custkey"], r["net"]) for r in states["open_net"]],
        [(r["_entryId"], r["o_custkey"], r["net"]) for r in order_net
         if r["o_orderstatus"] == "O"])

    def groups(rows, value):
        out: dict = {}
        for r in rows:
            n, t = out.get(r["o_custkey"], (0, Decimal(0)))
            out[r["o_custkey"]] = (n + 1, t + r[value])
        return [(k, n, t) for k, (n, t) in out.items()]

    for table, parent, value in (("cust_open", states["open_net"], "net"),
                                 ("cust_all", orders, "o_totalprice")):
        problems += compare_multisets(
            table, [(r["aggregatedColumn"], r["n"], r["total"]) for r in states[table]],
            groups(parent, value))
    problems += compare_multisets(
        "cust_status",
        [(r["o_custkey"], r["o_orderstatus"]) for r in states["cust_status"]],
        list({(r["o_custkey"], r["o_orderstatus"]) for r in orders}))
    return problems


def model_problems(model: Model, orders: list[dict]) -> list[str]:
    cols = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    return compare_multisets(
        "orders vs load-generator model",
        [tuple(r[c] for c in cols) for r in orders],
        [tuple(model.order_row(k)[c] for c in cols) for k in model.orders])


def _collect(engine, table: str) -> list[dict]:
    return [r.asDict(recursive=True) for r in engine.table(table).collect()]


def run(spark, ctx) -> dict:
    """Set up, measure for ``ctx.seconds``, check; returns the workload's
    raw figures for the worker to turn into metrics."""
    import datagen
    from pyspark.sql import functions as F

    from reactivedb_spark.engine import Engine
    from reactivedb_spark.networking.server import ReactiveDBServer

    t_setup = time.perf_counter()
    sf = ctx.size["oltp_sf"]
    data_dir = datagen.write(ctx.path("data"), sf, ctx.seed, tables=("customer", "orders"))
    pdf = pq.read_table(f"{data_dir}/orders.parquet").to_pandas()
    model = Model(pdf.o_orderkey, pdf.o_custkey,
                  np.rint(pdf.o_totalprice.to_numpy() * 100).astype(np.int64),
                  pdf.o_orderstatus)
    n_customers = datagen.row_counts(sf)["customer"]

    tracer = ctx.tracer
    if tracer is not None:
        tracer.source_tables = frozenset({SOURCE})
        tracer.enabled = True
    engine = Engine(spark, DAG, workspace=ctx.path("engine"))
    orders = spark.read.parquet(f"{data_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("decimal(38,18)").alias("o_totalprice"),
        "o_orderstatus")
    engine.insert_df(SOURCE, orders)
    preload_layers = {}
    if tracer is not None:
        preload_layers = {k: tracer.layer_metrics()[k]
                          for k in ("engine.jobs_per_batch", "engine.insert_df_ms")}
        tracer.enabled = False

    server = ReactiveDBServer(engine, port=0).start()
    client = WireClient(server.host, server.port)
    sub = Subscriber(server.host, server.port, LISTENED)
    sub.start()
    # StartListen has no response: wait until the server has registered the
    # subscription, or the first insert's event could be missed
    for _ in range(1000):
        if server._subs.get((LISTENED, "Insert")):
            break
        time.sleep(0.01)
    gen = LoadGenerator(ctx.seed, model, n_customers)
    failed = 0

    def execute(op: Op) -> None:
        nonlocal failed
        op.t_send = time.perf_counter()
        op.response = client.request(op.query)
        op.t_resp = time.perf_counter()
        if not _result(op.response)[0]:
            failed += 1
        if op.expect_event is not None:
            try:
                op.t_event, op.event = sub.events.get(timeout=EVENT_TIMEOUT_S)
            except queue.Empty:
                failed += 1

    warm = gen.block(WARMUP) if ctx.size["oltp_warmup"] else []
    for op in warm:
        execute(op)
    setup_s = time.perf_counter() - t_setup

    if tracer is not None:
        tracer.reset()
        tracer.enabled = True
    staged0 = engine._listen_staged
    job0 = ctx.jobs.next_job_id()
    ops: list[Op] = []
    failed_warm, failed = failed, 0
    t0 = time.perf_counter()
    for _ in range(ctx.rounds(BLOCK_S)):
        for op in gen.block():
            execute(op)
            ops.append(op)
    wall = time.perf_counter() - t0
    job1 = ctx.jobs.next_job_id()
    memory_mb = ctx.retained_mb()
    layers = {}
    if tracer is not None:
        tracer.enabled = False
        layers = tracer.layer_metrics(DERIVED, wall)
        layers.update(preload_layers)
        layers["listen.staged_snapshots"] = engine._listen_staged - staged0

    # -- correctness, outside the timed region -------------------------------
    client.close()
    sub.close()
    server.shutdown()
    engine.flush_listeners()
    problems = []
    for op in warm + ops:
        problems += verify_op(op)
    extra = sub.events.qsize()
    if extra:
        problems.append(f"{extra} listener events the model did not expect")
    listener_errors = len(engine.listener_errors)
    states = {t: _collect(engine, t) for t in (SOURCE,) + DERIVED}
    problems += recompute_problems(states)
    problems += model_problems(model, states[SOURCE])
    if failed_warm:
        problems.append(f"{failed_warm} warm-up ops failed")

    def lat(kind):
        return [(o.t_resp - o.t_send) * 1000 for o in ops if o.kind == kind]

    return {
        "setup_s": setup_s,
        "primary_ms": lat("insert"),
        "requests": len(ops),
        "wall_s": wall,
        "memory_mb": memory_mb,
        "attempted": len(ops),
        "failed": failed + listener_errors,
        "problems": problems,
        "jobs_window": (job0, job1),
        "layers": layers,
        "detail": {
            "insert_ms": lat("insert"),
            "lookup_ms": lat("lookup"),
            "delete_ms": lat("delete"),
            "event_lag_ms": [(o.t_event - o.t_send) * 1000 for o in ops
                             if o.t_event is not None],
            "oltp_ops_per_s": len(ops) / wall,
        },
    }
