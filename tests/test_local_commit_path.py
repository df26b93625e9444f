"""The local commit path against the Spark path and a batch recompute.

One seeded mix of one-row inserts, multi-row inserts and deletes runs
through Function, Filter, two Aggregations and a Distinct on two
engines: one with the store's default ``DRIVER_WRITE_LIMIT``, where
delta-sized children run on the driver, and one with the limit below
zero, which forces every child and write onto Spark's plans. After every
commit both engines must hold the same state, give the same wire
responses and listener events, and equal a batch recompute of each
derived table over its parents.

A second phase covers the local path's fallbacks: after a bulk insert
fills the keyed children's ``_kb`` buckets, the local engine's limit
drops to a few KB, so a small delta still fits it but the buckets it
touches do not. Keyed children then take the Spark plans with the
bucket rows left unread, below Function and Filter children that still
run locally and hand them an Arrow-written delta."""

import json
import random
from decimal import Decimal

from reactivedb_spark import Engine
from reactivedb_spark import engine as engine_mod
from reactivedb_spark import store as store_mod
from reactivedb_spark.networking import ReactiveDBServer
from reactivedb_spark.networking.server import _file_entries
from reactivedb_spark.operators import aggregation as agg_op
from reactivedb_spark.operators import distinct_transform as distinct_tr_op
from reactivedb_spark.operators import filter as filter_op
from reactivedb_spark.operators import function as function_op

CFG = {"tables": [
    {"Source": {"name": "ev", "columns": {
        "k": "Integer", "g": "Str", "d": "Decimal", "s": "Str"}}},
    {"Derived": {"name": "fn", "transform_definition": {"FunctionTransform": {
        "source_table": "ev",
        "functions": ["g ~ g", "dd ~ d * 0.9", "s ~ s"]}}}},
    {"Derived": {"name": "flt", "transform_definition": {"FilterTransform": {
        "source_table": "fn", "filter": 's == "O"'}}}},
    {"Derived": {"name": "by_g", "transform_definition": {"AggregationTransform": {
        "source_table": "ev", "aggregated_column": "g",
        "functions": ["n ~ memo.n + 1", "t ~ memo.t + d"]}}}},
    {"Derived": {"name": "open_g", "transform_definition": {"AggregationTransform": {
        "source_table": "flt", "aggregated_column": "g",
        "functions": ["n ~ memo.n + 1", "t ~ memo.t + dd",
                      "avg ~ memo.t / memo.n"]}}}},
    {"Derived": {"name": "pairs", "transform_definition": {"DistinctTransform": {
        "source_table": "ev", "columns": ["g", "s"]}}}},
]}
DERIVED = ("fn", "flt", "by_g", "open_g", "pairs")
GROUPS = ("a", "b", "c", None)
STATUSES = ("O", "F", None)
N_OPS = 10
# the local engine's limit in the second phase: its local budget (a
# quarter) holds a few-row delta's files but not the bulk-filled buckets
SMALL_LIMIT = 12 << 10
N_SMALL_OPS = 4


def _ops(seed: int) -> list:
    """The op mix as ``(op, local engine's limit or None for the
    default)``: a scripted start, then seeded random ops, then the
    second phase. The start kills the tuple (a, O) and inserts it again,
    brings null keys in three commits, and gives two tuples several
    first arrivals in one commit."""
    rng = random.Random(seed)
    k = iter(range(1, 10_000))

    def row(g="?", s="?"):
        return {"k": next(k), "g": rng.choice(GROUPS) if g == "?" else g,
                "s": rng.choice(STATUSES) if s == "?" else s,
                "d": None if rng.random() < 0.1 else
                Decimal(rng.randrange(-10 ** 24, 10 ** 24)).scaleb(-18)}

    ops = [("insert", [row("a", "O")]), ("delete", "k", 1),
           ("insert", [row("a", "O")]),
           ("insert", [row(None, "O"), row(None, "F")]),
           ("insert", [row(None, "O")] + [row("b", "O") for _ in range(4)]),
           ("insert", [row(None) for _ in range(2)] + [row("c", "F") for _ in range(4)])]
    live = list(range(2, 16))
    while len(ops) < N_OPS:
        r = rng.random()
        if r < 0.35:
            rows = [row()]
        elif r < 0.65:
            rows = [row() for _ in range(rng.randint(2, 4))]
        else:
            if rng.random() < 0.6:
                ops.append(("delete", "k", live.pop(rng.randrange(len(live)))))
            else:
                ops.append(("delete", "g", rng.choice(GROUPS[:-1])))
            continue
        live += [x["k"] for x in rows]
        ops.append(("insert", rows))
    # second phase: a bulk insert of many groups and tuples, then small
    # commits over the filled buckets at SMALL_LIMIT; their rows pass the
    # filter, so open_g sits below a local Filter child
    ops.append(("insert", [row(f"g{rng.randrange(2000)}", rng.choice(STATUSES + ("P",)))
                           for _ in range(3000)]))
    small = []
    while len(small) < N_SMALL_OPS:
        if len(small) == 2:
            small.append(("delete", "k", live.pop(rng.randrange(len(live)))))
            continue
        rows = [row(s="O") for _ in range(1 if len(small) % 2 == 0 else 3)]
        live += [x["k"] for x in rows]
        small.append(("insert", rows))
    return [(op, None) for op in ops] + [(op, SMALL_LIMIT) for op in small]


class Run:
    """One engine, its wire server and its listener events. Entry ids
    differ between engines, so every id is replaced by a label that
    names the source row it derives from."""

    def __init__(self, spark, workspace):
        self.eng = Engine(spark, CFG, workspace=workspace)
        self.server = ReactiveDBServer(self.eng)
        self.events = []
        self.labels = {}
        for t in DERIVED:
            for event in ("Insert", "Delete"):
                self.eng.listen(t, event, self._recorder(t, event), asynchronous=True)

    def _recorder(self, table, event):
        def record(df):
            self.events.append((table, event, _file_entries(df)))
        return record

    def commit(self, op):
        """Run one op and deliver its listener events."""
        self.events = []
        if op[0] == "insert":
            report = self.eng.insert("ev", op[1])
        else:
            report = self.eng.delete("ev", op[1], op[2])
        self.eng.flush_listeners()
        return report

    def observe(self, op, report) -> dict:
        """What a client and a subscriber see of the commit, and the
        state it left."""
        entries = self.server._committed_entries(report)
        state = self.snapshot()
        g = op[1][0]["g"] if op[0] == "insert" else None
        found = self.server.run_query({"FindOne": {
            "table": "by_g", "column": "aggregatedColumn",
            "key": {"Str": g if g is not None else "a"}}})["OneResult"]["Ok"]
        return {
            "state": state,
            "response": self._canon(entries),
            "events": sorted((t, e, self._canon(x)) for t, e, x in self.events),
            "find": self._canon([found] if found else []),
        }

    def snapshot(self) -> dict:
        """Each table's rows with internal columns, ids as labels."""
        out = {}
        for t in ("ev",) + DERIVED:
            rows = [r.asDict(recursive=True) for r in self.eng.store.read(t).collect()]
            for r in rows:
                src = r.get("_sourceEntryId")
                self.labels[r["_entryId"]] = (
                    ("ev", r["k"]) if t == "ev" else (t, self.labels.get(src)))
            out[t] = sorted(repr(self._label(r)) for r in rows)
        return out

    def _label(self, r: dict) -> dict:
        r = dict(r)
        for c in ("_entryId", "_sourceEntryId"):
            if c in r:
                r[c] = self.labels.get(r[c], r[c])
        return r

    def _canon(self, entries) -> list:
        out = []
        for e in entries:
            e = {c: (self.labels.get(v["ID"], v["ID"])
                     if c in ("_entryId", "_sourceEntryId") else v)
                 for c, v in e.items()}
            out.append(json.dumps(e, sort_keys=True, default=str))
        return sorted(out)

    def recompute_problems(self) -> list:
        """Derived tables whose state differs from a batch recompute over
        their parents' state."""
        eng = self.eng
        read = eng.store.read
        tr = {t: eng.tables[t].transform for t in DERIVED}

        def rows(df, cols):
            return sorted(repr(self._label(r.asDict(recursive=True)))
                          for r in df.select(*cols).collect())

        row_cols = ["_sourceEntryId", "_seq", "g", "s"]
        agg_cols = ["_sourceEntryId", "_seq", "aggregatedColumn", "n", "t"]
        want = {
            "fn": (function_op.apply_delta(tr["fn"], read("ev")), row_cols + ["dd"]),
            "flt": (filter_op.apply_delta(tr["flt"], read("fn")), row_cols + ["dd"]),
            "by_g": (agg_op.compute_groups(tr["by_g"], read("ev")), agg_cols),
            "open_g": (agg_op.compute_groups(tr["open_g"], read("flt")), agg_cols + ["avg"]),
            "pairs": (distinct_tr_op.delta_counts(tr["pairs"], read("ev"))
                      .withColumnRenamed("_n", "_refCount"), ["distinctKey", "_refCount"]),
        }
        return [t for t, (df, cols) in want.items()
                if rows(df, cols) != rows(read(t), cols)]

    def close(self):
        self.server._tcp.server_close()


def test_local_path_equals_spark_path_and_recompute(spark, tmp_path, monkeypatch):
    default_limit = store_mod.DRIVER_WRITE_LIMIT
    local_run = Run(spark, str(tmp_path / "local"))
    spark_run = Run(spark, str(tmp_path / "spark"))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # which children entered the local path, and which of those found
    # their buckets over the budget and fell back to the Spark plans
    entered, over_budget = set(), set()
    built_once, bucket_rows = engine_mod.Engine._built_once, engine_mod.Engine._bucket_rows

    def spy_built_once(self, child, build):
        entered.add(child)
        return built_once(self, child, build)

    def spy_bucket_rows(self, child, kb, budget):
        state, buckets = bucket_rows(self, child, kb, budget)
        if state is None:
            over_budget.add(child)
        return state, buckets

    monkeypatch.setattr(engine_mod.Engine, "_built_once", spy_built_once)
    monkeypatch.setattr(engine_mod.Engine, "_bucket_rows", spy_bucket_rows)
    mixed_cascades = budget_fallbacks = 0
    try:
        for i, (op, limit) in enumerate(_ops(seed=7)):
            monkeypatch.setattr(store_mod, "DRIVER_WRITE_LIMIT", -1)
            want = spark_run.observe(op, spark_run.commit(op))
            monkeypatch.setattr(store_mod, "DRIVER_WRITE_LIMIT", limit or default_limit)
            entered.clear()
            over_budget.clear()
            j0 = dag.nextJobId()
            report = local_run.commit(op)
            if op[0] == "insert" and limit is None:
                # the whole cascade and its listener snapshots ran on the
                # driver: no Spark job
                assert dag.nextJobId() == j0, (i, op)
            got = local_run.observe(op, report)
            assert got == want, (i, op)
            assert local_run.recompute_problems() == [], (i, op)
            if limit is not None:
                assert over_budget <= {"by_g", "open_g", "pairs"}, (i, over_budget)
                budget_fallbacks += bool(over_budget & {"by_g", "pairs"})
                mixed_cascades += "open_g" in over_budget and {"fn", "flt"} <= entered
    finally:
        local_run.close()
        spark_run.close()
    # the second phase ran both fallbacks it is there for
    assert budget_fallbacks and mixed_cascades, (budget_fallbacks, mixed_cascades)
