"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

The tracer wraps the layers' entry points from the outside (it replaces
class methods and module functions for the life of the worker process);
nothing under ``reactivedb_spark/`` is edited. Each wrapped call becomes a
span with its wall time, its self time (minus child spans on the same
thread) and its Spark job count.

Job counting uses two mechanisms, because the engine runs some Spark
actions on worker threads:

* Top-level operations (``Engine.insert`` / ``delete`` / ``find_one`` /
  ``insert_df``, ``ReactiveDBServer.run_query``) are serialized by the
  benchmark, so their jobs are counted by job-id windows: every job whose
  id was allocated between the call's entry and its exit.
* Nested spans (store writes, per-table apply, operator plan building,
  listener callbacks) can run concurrently on engine worker threads.
  Spark job groups are thread-local, so each nested span sets a unique job
  group on the thread it runs on and counts the group's jobs at exit. Jobs
  a span launches from a thread it did not start on are not attributed to
  it.

Spark is lazy: the operator spans time plan building only, and the
execution they describe lands in the ``store`` write spans nested under
``engine.apply.<table>``.
"""

from __future__ import annotations

import collections
import importlib
import itertools
import os
import statistics
import threading
import time

# Store entry points that write files.
STORE_WRITES = ("append_rows", "append_delta", "stage", "replace",
                "replace_partitions")
STORE_OPS = STORE_WRITES + ("end_commit", "read")
# (module, function) pairs of the operator plan-building calls the engine makes.
OPERATOR_FUNCS = (
    ("function", "apply_delta"),
    ("filter", "apply_delta"),
    ("aggregation", "compute_groups"),
    ("aggregation", "merge_with_state"),
    ("union", "merge"),
    ("join_transform", "delta_join"),
    ("distinct_transform", "delta_counts"),
    ("distinct_transform", "representatives"),
)
OPERATOR_MODULES = tuple(dict.fromkeys(m for m, _ in OPERATOR_FUNCS))
ENGINE_OPS = ("insert", "delete", "find_one", "insert_df")


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class JobCounter:
    """Spark job ids, and per-job stage and task counts from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        # the scheduler's job-id counter (py4j hands the AtomicInteger
        # back as its current value)
        self._dag = self.sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        """Id the next submitted job will get."""
        return int(self._dag.nextJobId())

    def stage_task_counts(self, first: int, end: int) -> tuple[int, int, list]:
        """(stages run, tasks run, tasks per stage) for jobs ``[first, end)``.
        Skipped stages (reused shuffle output) are not counted."""
        stages, tasks_per_stage = set(), []
        for jid in range(first, end):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in stages:
                    continue
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks <= 0:
                    continue
                stages.add(sid)
                tasks_per_stage.append(st.numCompletedTasks)
        return len(stages), sum(tasks_per_stage), tasks_per_stage


class Tracer:
    def __init__(self, spark):
        """``spark=None`` gives a tracer that can only report (zeros)."""
        self.sc = spark.sparkContext if spark is not None else None
        self.jobs = JobCounter(spark) if spark is not None else None
        self.ms = collections.defaultdict(list)      # span -> [ms]
        # span -> [ms not covered by child spans on the span's own thread]
        self.self_ms = collections.defaultdict(list)
        self.njobs = collections.defaultdict(list)   # span -> [jobs]
        self.counters = collections.Counter()
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._ids = itertools.count()
        # the listener drain runs after the op that fed it: holding this
        # lock around each top-level op keeps its jobs out of the op's
        # job-id window
        self.op_lock = threading.RLock()
        self._notified = collections.deque()
        # tables whose seed writes are the input bytes of write amplification
        self.source_tables: frozenset = frozenset()
        self.enabled = False

    # -- span primitives ----------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _nested(self, name: str, fn, args, kwargs, on_exit=None):
        """Run ``fn`` as a span counted by a thread-local job group."""
        if not self.enabled:
            return fn(*args, **kwargs)
        b0 = time.perf_counter()
        sc = self.sc
        prev = sc.getLocalProperty("spark.jobGroup.id")
        group = f"perfbench-{next(self._ids)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        stack = self._stack()
        frame = [name, 0.0]  # span name, ms covered by child spans
        stack.append(frame)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            t1 = time.perf_counter()
            stack.pop()
            n = len(self.sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", prev)
            total = (t1 - t0) * 1000
            self.ms[name].append(total)
            self.self_ms[name].append(total - frame[1])
            self.njobs[name].append(n)
            if stack:
                stack[-1][1] += total
            if on_exit is not None:
                on_exit(stack[-1][0] if stack else None, result)
            self.bookkeeping_s += time.perf_counter() - t1

    def _windowed(self, name: str, fn, args, kwargs):
        """Run ``fn`` as a span counted by a job-id window (serialized ops)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.op_lock:
            b0 = time.perf_counter()
            j0 = self.jobs.next_job_id()
            t0 = time.perf_counter()
            self.bookkeeping_s += t0 - b0
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self.ms[name].append((t1 - t0) * 1000)
                self.njobs[name].append(self.jobs.next_job_id() - j0)
                self.bookkeeping_s += time.perf_counter() - t1

    @staticmethod
    def _patch(owner, attr: str, wrapper) -> None:
        setattr(owner, attr, wrapper(getattr(owner, attr)))

    # -- layer wrappers -----------------------------------------------------
    def install(self) -> "Tracer":
        from reactivedb_spark import engine as engine_mod
        from reactivedb_spark import store as store_mod
        from reactivedb_spark.networking import server as server_mod

        tr = self
        Engine = engine_mod.Engine
        Store = store_mod.ParquetSnapshotStore
        Server = server_mod.ReactiveDBServer

        for op in ENGINE_OPS:
            self._patch(Engine, op, lambda orig, op=op: (
                lambda *a, **k: tr._windowed(f"engine.{op}", orig, a, k)))

        def apply(orig):
            def wrapped(eng, child, *a, **k):
                return tr._nested(f"engine.apply.{child}", orig, (eng, child) + a, k)
            return wrapped
        # per-child dispatch; join children apply once per wave instead
        self._patch(Engine, "_apply_child", apply)
        self._patch(Engine, "_apply_join_wave", apply)

        def notify(orig):
            def wrapped(eng, table, d):
                out = orig(eng, table, d)
                if tr.enabled and d.inserts is not None and any(
                        e == "Insert" and a for e, _cb, a in eng._listeners.get(table, [])):
                    tr._notified.append(time.perf_counter())
                return out
            return wrapped
        self._patch(Engine, "_notify", notify)

        for op in STORE_OPS:
            self._patch(Store, op, lambda orig, op=op: self._store_wrapper(op, orig))

        for mod_name, fn_name in OPERATOR_FUNCS:
            module = importlib.import_module(f"reactivedb_spark.operators.{mod_name}")
            self._patch(module, fn_name, lambda orig, m=mod_name: (
                lambda *a, **k: tr._nested(f"operators.{m}", orig, a, k)))

        def run_query(orig):
            def wrapped(srv, query):
                (kind, _body), = query.items()
                return tr._windowed(f"networking.run_query.{kind}", orig, (srv, query), {})
            return wrapped
        self._patch(Server, "run_query", run_query)

        def committed(orig):
            def wrapped(srv, report):
                return tr._nested("networking.committed_entries", orig, (srv, report), {})
            return wrapped
        self._patch(Server, "_committed_entries", committed)

        def make_pusher(orig):
            def wrapped(srv, table, event):
                push = orig(srv, table, event)

                def traced_push(df):
                    entered = time.perf_counter()
                    if tr.enabled and tr._notified:
                        tr.ms["listen.queue_wait"].append(
                            (entered - tr._notified.popleft()) * 1000)
                    with tr.op_lock:
                        return tr._nested("listen.callback", push, (df,), {})
                return traced_push
            return wrapped
        self._patch(Server, "_make_pusher", make_pusher)
        return self

    def _store_wrapper(self, op: str, orig):
        tr = self

        def wrapped(store, *a, **k):
            if not tr.enabled:
                return orig(store, *a, **k)
            t_ns = time.time_ns()
            name = a[0] if a else None

            def on_exit(parent, result):
                if op == "replace" and parent in (
                        "store.end_commit", "store.append_rows", "store.append_delta"):
                    tr.counters["store.compactions"] += 1
                if op in STORE_WRITES:
                    sizes = _written_files(store, op, name, result, t_ns)
                    tr.counters["store.files_written"] += len(sizes)
                    tr.counters["store.bytes_written"] += sum(sizes)
                    if op in ("append_rows", "append_delta") and name in tr.source_tables:
                        tr.counters["store.input_bytes"] += sum(sizes)
            return tr._nested(f"store.{op}", orig, (store,) + a, k, on_exit)
        return wrapped

    # -- reporting ----------------------------------------------------------
    def layer_metrics(self, engine_tables=(), wall_s: float = 1.0) -> dict:
        """Every per-layer metric the tracer owns; a layer the workload did
        not exercise reports 0."""
        ms, nj, c = self.ms, self.njobs, self.counters
        ins_q = ms.get("networking.run_query.InsertData", [])
        ins_e = ms.get("engine.insert", [])
        out = {
            # every timed Engine.insert runs inside one InsertData request
            "networking.self_ms_per_insert": p50(
                [q - e for q, e in zip(ins_q, ins_e)] if len(ins_q) == len(ins_e) else []),
            "networking.jobs_per_insert_response": p50(nj.get("networking.committed_entries", [])),
            "engine.jobs_per_insert": p50(nj.get("engine.insert", [])),
            "engine.insert_ms": p50(ins_e),
            "engine.jobs_per_delete": p50(nj.get("engine.delete", [])),
            "engine.delete_ms": p50(ms.get("engine.delete", [])),
            "engine.jobs_per_lookup": p50(nj.get("engine.find_one", [])),
            "engine.find_one_ms": p50(ms.get("engine.find_one", [])),
            "engine.jobs_per_batch": p50(nj.get("engine.insert_df", [])),
            "engine.insert_df_ms": p50(ms.get("engine.insert_df", [])),
        }
        for t in engine_tables:
            out[f"engine.apply.{t}.ms"] = p50(ms.get(f"engine.apply.{t}", []))
            out[f"engine.apply.{t}.self_ms"] = p50(self.self_ms.get(f"engine.apply.{t}", []))
        for op in STORE_OPS:
            key = f"store.{op}"
            out[f"{key}.calls"] = len(ms.get(key, []))
            out[f"{key}.ms"] = sum(ms.get(key, []))
            out[f"{key}.jobs"] = sum(nj.get(key, []))
        out["store.files_written"] = c["store.files_written"]
        out["store.compactions"] = c["store.compactions"]
        out["store.bytes_written_per_input_byte"] = (
            c["store.bytes_written"] / c["store.input_bytes"]
            if c["store.input_bytes"] else 0.0)
        for m in OPERATOR_MODULES:
            out[f"operators.{m}.ms"] = sum(ms.get(f"operators.{m}", []))
        out["listen.queue_wait_ms"] = p50(ms.get("listen.queue_wait", []))
        out["listen.callback_ms"] = p50(ms.get("listen.callback", []))
        out["trace.overhead_pct"] = 100.0 * self.bookkeeping_s / max(wall_s, 1e-9)
        return out

    def reset(self) -> None:
        self.ms.clear()
        self.self_ms.clear()
        self.njobs.clear()
        self.counters.clear()
        self._notified.clear()
        self.bookkeeping_s = 0.0


def _written_files(store, op: str, table: str, result, t_ns: int) -> list[int]:
    """Sizes of the parquet files one store write produced. Appends and
    stages return a DataFrame over exactly their new files. A replace
    writes the table's new current version dir; hardlinked carry-over
    partitions keep their old mtime, so only rewritten files count."""
    if op in ("replace", "replace_partitions"):
        sizes = []
        for dirpath, _dirs, names in os.walk(store._dir(table)):
            for f in names:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, f))
                    if st.st_mtime_ns >= t_ns:
                        sizes.append(st.st_size)
        return sizes
    if result is None:  # the write raised
        return []
    df = result[0] if op in ("append_rows", "append_delta") else result
    if df is None:  # nothing to append
        return []
    return [os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()]
