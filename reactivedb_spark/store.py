"""Table storage: versioned parquet snapshots.

Replaces the reference's block-chained row files + per-column B+trees
(storage_manager_v2.rs:20-24,77-125 — deliberately NOT ported, SURVEY.md
§1.4): columnar parquet gives scan pushdown/pruning instead of indexes.

Layout: ``<root>/<table>/v<k>/part-*.parquet``. Appends add files to the
current version dir; mutations (merge/delete) write the next version dir
and flip the pointer — a poor-man's Delta-style snapshot isolation that is
atomic per commit and keeps readers of the old version valid. On a real
cluster this layer is Delta Lake/Iceberg (``MERGE INTO`` + CDF); the
engine's API is shaped so only this module would change.

Every write goes through one primitive, :meth:`ParquetSnapshotStore.write`,
and lands as parquet that is read back, which **pins nondeterministic
values** (``uuid()`` entry ids) before anything downstream references
them — re-evaluating a lazy plan would otherwise regenerate them
(SURVEY.md §7 hard-problem #1 neighbor).

Delta-sized writes bypass Spark's writer and its Hadoop output committer:
a frame whose Catalyst size estimate fits :data:`DRIVER_WRITE_LIMIT` is
collected once as Arrow and written with ``pyarrow.parquet`` under a
temporary name, then renamed into place. A reactive commit writes a
handful of rows many times; through Spark each write paid committer job
setup and commit (task attempt dirs, renames) and, where Hadoop's local
filesystem runs without its native library, a forked ``chmod`` process
per directory and file the committer creates — ~170-210 ms for a 5-row
write against ~28 ms through Arrow. Frames above the limit or of unknown
size keep the distributed writer, the only path for data larger than
the driver. The engine's local commit path hands its results to the
same writer as Arrow tables, and reads delta and bucket files back with
:func:`read_files`, so a delta-sized commit runs no Spark job at all.
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.serializers import ArrowCollectSerializer
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.util import _load_from_socket

# Largest optimized-plan size estimate (Catalyst ``stats.sizeInBytes``,
# the figure Spark's own broadcast decisions use) written on the driver.
# The estimate needs no job but is not an upper bound on the data: a
# parquet scan reports its compressed file bytes, a filter keeps its
# child's size and a projection scales by default type widths (20 bytes
# a string), so a collected frame holds 2-6x its estimate in Arrow
# (2.1x for engine tables, whose ids are uuids; 5.7x for an insert_df
# batch that adds them). Joins other than semi/anti report the product
# of their sides, and a plan Spark cannot size the maximal default, so
# such plans stay on the distributed writer. Against Spark's writer at
# local[4] the driver saved 0.1-0.4 s a write (the committer's fixed
# cost) up to estimates of 12 MB and broke even near 25-35 MB of
# insert_df batch, but it holds the whole frame in Python. 4 MB keeps
# a driver write under ~25 MB of Arrow and covers every write of a
# one-row commit (the largest, 3.8 MB, is a Distinct partition rewrite
# whose estimate a join inflates). Those join products grow with the
# delta, so a commit of ten or more rows sends one to three of its
# writes to Spark's writer.
#
# Second use, in other units: the engine's local commit path takes a
# child whose inputs (its parent's delta files plus the files of the
# ``_kb`` buckets it touches) hold at most a quarter of this limit,
# 1 MB, in parquet file bytes (``engine._local_limit``). Its cost grows
# with the delta's rows: each projection is a pickled collect, a dict
# per row and a Python uuid4 per new row (1.1 s for 65k rows at
# local[4]), where the Spark plans pay a near-fixed 22-34 jobs. Through
# the oltp_wire DAG at local[4] with a 3.9 GB driver, an insert_df batch
# took, local / Spark, two rounds in alternating order, in ms:
#   into an empty engine, delta 0.46 / 0.93 / 1.9 / 2.8 / 4.0 MB:
#     1048-1411 / 1747-2625, 1417-2015 / 1811-2735, 2265-2786 / 2070-2876,
#     3528-4088 / 2276-2715, 4499-4611 / 2596-2638;
#   after a 15k-row preload, delta 0.46 / 0.93 / 1.4 / 1.9 / 2.8 MB:
#     971-1199 / 3465-4835, 1362-1603 / 3696-4340, 1885-2151 / 3169-4212,
#     2295-2624 / 3437-4116, 2754-3118 / 3686-3988.
# The local path lost from 1.9 MB into an empty engine; the quarter is
# the largest measured size it won in every pair of both series.
DRIVER_WRITE_LIMIT = 4 << 20


def _collect_if_small(df: DataFrame) -> pa.Table | None:
    """``df`` as one driver-side Arrow table when its size estimate fits
    :data:`DRIVER_WRITE_LIMIT`, else None.

    The collect is ``DataFrame.toArrow``'s protocol as PySpark 4.1
    implements it (``_collect_as_arrow``: ``collectAsArrowToPython``, the
    batches and their order read with ``ArrowCollectSerializer``, then the
    serving thread joined), run on a Dataset of its own whose py4j
    proxies — the Dataset's and the serving socket's — are detached as
    soon as the batches are in. A proxy whose methods were called sits in
    a reference cycle until Python's full cyclic GC, and one of the
    collected Dataset would keep its executed plan alive, with every
    broadcast relation of its joins holding a full memory page, long
    after the write."""
    if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > DRIVER_WRITE_LIMIT:
        return None
    gateway = df.sparkSession.sparkContext._gateway
    jdf = df.select("*")._jdf
    port, secret, server = jdf.collectAsArrowToPython()
    try:
        # record batches in arrival order, then their partition order
        *batches, order = _load_from_socket((port, secret), ArrowCollectSerializer())
    except BaseException as e:
        # the read error is the one raised; the serving thread's rides
        # along as a note
        try:
            server.getResult()
        except Exception as err:
            e.add_note(f"Arrow collect serving thread: {err}")
        raise
    else:
        server.getResult()  # raises the collect job's error, if any
    finally:
        gateway.detach(server)
        gateway.detach(jdf)
    if not batches:
        return to_arrow_schema(df.schema).empty_table()
    return pa.Table.from_batches([batches[i] for i in order])


def collect_rows(df: DataFrame) -> list:
    """``df.collect()`` that detaches the collected Dataset's py4j proxies
    once the rows are in (see :func:`_collect_if_small`), so no executed
    plan outlives the call. ``df`` is consumed: the caller must not use
    it afterwards."""
    gateway = df.sparkSession.sparkContext._gateway
    try:
        sock_info = df._jdf.collectToPython()
        try:
            return list(_load_from_socket(sock_info, BatchedSerializer(CPickleSerializer())))
        finally:
            gateway.detach(sock_info)
    finally:
        gateway.detach(df._jdf)


def conform(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """``tbl``'s columns of ``schema``, in its order and types."""
    return pa.Table.from_arrays(
        [tbl.column(f.name).cast(f.type) for f in schema], schema=schema)


def read_files(files, schema: T.StructType) -> pa.Table:
    """The rows of parquet ``files`` as one driver-side Arrow table of
    ``schema`` (no Spark job). A column a file does not hold is a
    partition column, read from the file's ``<column>=<value>`` dir."""
    target = to_arrow_schema(schema)
    tables = []
    for f in files:
        t = pq.read_table(f)
        part_col, _, part_value = os.path.basename(os.path.dirname(f)).partition("=")
        cols = []
        for fld in target:
            if fld.name in t.column_names:
                cols.append(t.column(fld.name))
            elif fld.name == part_col:
                cols.append(pa.array([part_value] * t.num_rows).cast(fld.type))
            else:
                raise KeyError(f"{f} holds no column {fld.name!r}")
        tables.append(conform(pa.Table.from_arrays(cols, names=target.names), target))
    return pa.concat_tables(tables) if tables else target.empty_table()


class ParquetSnapshotStore:
    def __init__(self, spark: SparkSession, root: str, compact_threshold: int = 64):
        self.spark = spark
        self.root = root
        self.compact_threshold = compact_threshold
        self._schemas: dict[str, T.StructType] = {}
        self._versions: dict[str, int] = {}
        self._epochs: dict[str, int] = {}
        self._read_cache: dict[tuple, DataFrame] = {}
        os.makedirs(root, exist_ok=True)
        self._load_meta()

    # -- restart/recovery --------------------------------------------------
    # The reference persists tables and re-opens them on start
    # (storage_manager_table.rs:262-293 re-infers schema from stored rows;
    # we re-derive schemas statically from config instead and only persist
    # the version pointers).
    def _meta_path(self) -> str:
        return os.path.join(self.root, "meta.json")

    def _load_meta(self) -> None:
        import json

        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
            self._versions.update({k: int(v) for k, v in meta.get("versions", {}).items()})
            self._epochs.update({k: int(v) for k, v in meta.get("epochs", {}).items()})
            self._recover(meta.get("files", {}))
        except (FileNotFoundError, ValueError):
            pass

    def _list_rel(self, path: str) -> set[str]:
        """Relative paths of every parquet file under ``path`` (covers
        partitioned layouts: ``col=v/part-*.parquet``)."""
        out: set[str] = set()
        if not os.path.isdir(path):
            return out
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in files:
                if f.endswith(".parquet"):
                    out.add(f if rel == "." else os.path.join(rel, f))
        return out

    def _recover(self, manifests: dict) -> None:
        """Crash recovery (VERDICT r11 #4). The commit protocol is:
        (1) stage/append/replace writes land on disk, (2) ``end_commit``
        flips the durable pointer by atomically rewriting ``meta.json``
        (``os.replace``). A process killed between (1) and (2) leaves
        orphans the old meta does not reference:

        - version dirs NEWER than the committed pointer (a crashed
          ``replace``/``replace_partitions`` flip) — also dirs older
          than ``current-1`` whose deferred ``pending_rm`` never ran;
        - parquet files appended into the CURRENT version dir
          (``append_delta`` writes in place; without the manifest a
          fresh engine would read the half-committed delta);
        - the ``_staging`` scratch tree.

        All are reaped here, restoring the exact pre-commit snapshot for
        every table. Runs once, on open, BEFORE any read; opening a
        workspace while another live engine is mid-commit is undefined
        (single-writer ownership, as in the reference server). Tables
        absent from the manifest (legacy meta) keep their files — only
        positively-identified orphans are deleted."""
        for name, version in self._versions.items():
            tdir = os.path.join(self.root, name)
            if os.path.isdir(tdir):
                keep = {f"v{version:06d}", f"v{version - 1:06d}"}
                for d in os.listdir(tdir):
                    if (d.startswith("v") and d[1:].isdigit()
                            and d not in keep):
                        shutil.rmtree(os.path.join(tdir, d),
                                      ignore_errors=True)
            if name not in manifests:
                continue
            cur = self._dir(name, version)
            committed = set(manifests[name])
            for rel in self._list_rel(cur) - committed:
                try:
                    os.remove(os.path.join(cur, rel))
                except OSError:
                    pass
        shutil.rmtree(os.path.join(self.root, "_staging"), ignore_errors=True)

    def save_meta(self) -> None:
        import json

        # The per-table committed-file manifest is recomputed from disk at
        # every commit point (tables are few and file counts are bounded by
        # auto-compaction, so the walk is microseconds): whatever is in the
        # current version dir NOW is, by definition, the committed state
        # this meta describes. _recover() deletes anything beyond it.
        files = {name: sorted(self._list_rel(self._dir(name)))
                 for name in self._versions}
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": self._versions, "epochs": self._epochs,
                       "files": files}, f)
        os.replace(tmp, self._meta_path())

    # -- streaming epoch ledger (the Delta txnAppId/txnVersion analogue:
    # an epoch recorded here was committed atomically with its data, so a
    # checkpoint replay of the same epoch can be skipped) -----------------
    def last_epoch(self, key: str) -> int | None:
        return self._epochs.get(key)

    def note_epoch(self, key: str, epoch: int) -> None:
        """Stage the epoch; it persists with the surrounding commit's
        save_meta (rollback discards it with the rest of the commit)."""
        self._epochs[key] = int(epoch)

    @property
    def recovered_tables(self) -> set:
        return set(self._versions)

    # -- lifecycle ---------------------------------------------------------
    def init_table(self, name: str, schema: T.StructType) -> None:
        self._schemas[name] = schema
        self._versions.setdefault(name, 0)

    def _dir(self, name: str, version: int | None = None) -> str:
        v = self._versions[name] if version is None else version
        return os.path.join(self.root, name, f"v{v:06d}")

    def _has_files(self, path: str) -> bool:
        if not os.path.isdir(path):
            return False
        for _root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # -- reads -------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        """Current state as a DataFrame. Memoized per (table, version,
        file-count): repeated point lookups reuse one DataFrame instead of
        re-listing and re-inferring per call (~every find_one). Appends
        into the current version change the file set without bumping the
        version, so the file count participates in the key."""
        path = self._dir(name)
        schema = self._schemas[name]
        n_files = sum(
            1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        ) if os.path.isdir(path) else 0
        if n_files == 0:
            # a local relation, sized 0 for the write gate's estimate
            return self.spark.createDataFrame(pa.Table.from_pylist(
                [], schema=to_arrow_schema(schema)))
        key = (name, self._versions[name], n_files)
        df = self._read_cache.get(key)
        if df is None:
            df = self.spark.read.schema(schema).parquet(path)
            self._read_cache = {
                k: v for k, v in self._read_cache.items() if k[0] != name
            }
            self._read_cache[key] = df
        return df

    def partition_files(self, name: str, partition_col: str, values) -> list[str]:
        """The parquet files of the current version's ``<partition_col>=<v>``
        dirs for each of ``values``."""
        out = []
        for v in values:
            d = os.path.join(self._dir(name), f"{partition_col}={v}")
            if os.path.isdir(d):
                out += [os.path.join(d, f) for f in sorted(os.listdir(d))
                        if f.endswith(".parquet")]
        return out

    def current_version(self, name: str) -> int:
        return self._versions[name]

    def read_at(self, name: str, version: int) -> DataFrame:
        """Snapshot (time-travel) read of a specific table version.

        The store retains exactly one generation behind the current
        pointer (``_flip`` keeps it for in-flight readers), so valid
        versions are ``current`` and ``current - 1`` — the same
        single-generation time travel a vacuumed Delta table offers.
        Older versions raise: their dirs are gone."""
        if version == self._versions[name]:
            return self.read(name)
        path = self._dir(name, version)
        if not self._has_files(path):
            raise ValueError(
                f"version {version} of table {name!r} is not retained "
                f"(current={self._versions[name]}; one back-version is kept)"
            )
        return self.spark.read.schema(self._schemas[name]).parquet(path)

    # -- writes ------------------------------------------------------------
    def write(self, data, path: str, partition_col: str | None = None) -> list[str]:
        """The one write primitive: land ``data`` (a DataFrame, or a
        pyarrow Table already on the driver) as parquet files under
        ``path``, split into ``<partition_col>=<v>`` dirs when given, and
        return the paths of the files written (none for an empty frame).

        A DataFrame whose optimized-plan size estimate fits
        :data:`DRIVER_WRITE_LIMIT` is collected once as Arrow and written
        with pyarrow; larger frames and frames of unknown size keep
        Spark's distributed writer, the only path for data larger than
        the driver."""
        tbl = data if isinstance(data, pa.Table) else _collect_if_small(data)
        if tbl is None:
            before = self._list_rel(path)
            writer = data.write.mode("append")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(path)
            return [os.path.join(path, r) for r in sorted(self._list_rel(path) - before)]
        if partition_col is None:
            parts = [(path, tbl)]
        else:
            col = tbl.column(partition_col)
            if col.null_count:
                raise ValueError(f"null {partition_col!r} partition value")
            rest = tbl.drop_columns([partition_col])
            parts = [
                (os.path.join(path, f"{partition_col}={v}"),
                 rest.filter(pc.equal(col, v)))
                for v in pc.unique(col).to_pylist()
            ]
        # row groups sized like Spark's writer would size them
        # (``parquet.block.size``), so data skipping sees the same layout
        block = self.spark.sparkContext._jsc.hadoopConfiguration().getLong(
            "parquet.block.size", 128 << 20)
        files = []
        for d, part in parts:
            if part.num_rows == 0:
                continue
            os.makedirs(d, exist_ok=True)
            fname = f"part-pa-{_uuid.uuid4().hex}.parquet"
            # a dot name is invisible to readers until the rename, so a
            # failed write never leaves a half-file in a table dir
            tmp = os.path.join(d, f".{fname}.tmp")
            try:
                pq.write_table(part, tmp, row_group_size=max(
                    1, block * part.num_rows // max(part.nbytes, 1)))
            except BaseException:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
                raise
            os.replace(tmp, os.path.join(d, fname))
            files.append(os.path.join(d, fname))
        return files

    @staticmethod
    def num_rows(files) -> int:
        """Row count of parquet files from their footers — no Spark job."""
        return sum(pq.read_metadata(f).num_rows for f in files)

    def stage(self, name: str, data,
              partition_col: str | None = None) -> DataFrame | None:
        """Materialize a frame (or a driver-side pyarrow Table) to scratch
        parquet and read it back (pins uuids / nondeterministic
        expressions); None when it holds no rows."""
        path = os.path.join(self.root, "_staging", name, _uuid.uuid4().hex)
        if not self.num_rows(self.write(data, path, partition_col)):
            return None
        schema = (from_arrow_schema(data.schema) if isinstance(data, pa.Table)
                  else data.schema)
        return self.spark.read.schema(schema).parquet(path)

    def append_delta(self, name: str, data) -> tuple[DataFrame | None, int]:
        """Write a delta (a DataFrame, or a driver-side pyarrow Table of
        the table's schema) directly into the table's current version
        dir — no staging double-write — and return (materialized delta
        over exactly the new files, row count). Returns (None, 0) for an
        empty delta; the count comes from parquet footers, not a Spark
        job."""
        path = self._dir(name)
        if isinstance(data, DataFrame):
            data = data.select(*self._schemas[name].fieldNames())
        else:
            data = conform(data, to_arrow_schema(self._schemas[name]))
        new_files = self.write(data, path)
        n = self.num_rows(new_files)
        if n == 0:
            return None, 0
        delta = self.spark.read.schema(self._schemas[name]).parquet(*new_files)
        # auto-compaction (the Delta OPTIMIZE analogue): many small commits
        # accumulate files and degrade every later scan. Never compact
        # mid-commit: a later replace() in the same commit would queue the
        # pre-compaction dir (holding these delta files) in pending_rm and
        # end_commit would delete it under the returned DataFrame. Defer to
        # end_commit, which compacts only tables not version-flipped during
        # the commit — keeping returned deltas one retained generation away
        # from any deletion.
        n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
        if n_files > self.compact_threshold:
            if self._txn is None:
                self.replace(name, self.read(name).coalesce(max(1, n_files // 32)))
            else:
                self._txn["compact"].add(name)
        return delta, n

    # A name only (``perfbench/tracing.py`` wraps it): every append,
    # row-list inserts included, is append_delta.
    append_rows = append_delta

    # INVARIANT: every path that lands files in a table's CURRENT version
    # dir must be followed by save_meta() (normally via end_commit) before
    # the engine is considered quiescent — _recover() deletes any file in
    # the current dir that the meta.json manifest does not list. There is
    # deliberately no bare append() here (ADVICE r12): a non-transactional
    # in-place write would be silently reaped on the next open.

    def _next_dir(self, name: str) -> tuple[int, str]:
        nxt = self._versions[name] + 1
        path = self._dir(name, nxt)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return nxt, path

    def replace(self, name: str, df: DataFrame, partition_col: str | None = None) -> None:
        nxt, path = self._next_dir(name)
        self.write(df, path, partition_col)
        self._flip(name, nxt)

    def replace_partitions(self, name: str, df: DataFrame,
                           partition_col: str, values: list) -> None:
        """Rewrite ONLY the partition dirs named by ``values``; every other
        partition of the current version is hardlinked into the next
        version dir — zero data I/O for untouched buckets, while keeping
        full snapshot isolation and rollback (the old version dir stays
        intact one generation back). This is the reference's per-key
        upsert economics (storage_manager_table.rs:26-64) at Spark scale;
        on a real cluster this layer is Delta ``MERGE``/``replaceWhere``,
        which is the same partition-scoped commit expressed as
        table-format metadata.

        ``df`` must contain only rows belonging to the affected
        partitions."""
        nxt, new_dir = self._next_dir(name)
        old_dir = self._dir(name)
        self.write(df, new_dir, partition_col)
        affected = {f"{partition_col}={v}" for v in values}
        if os.path.isdir(old_dir):
            for d in os.listdir(old_dir):
                src = os.path.join(old_dir, d)
                if d in affected or "=" not in d or not os.path.isdir(src):
                    continue
                dst = os.path.join(new_dir, d)
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(src):
                    if f.endswith(".parquet") and not os.path.exists(os.path.join(dst, f)):
                        os.link(os.path.join(src, f), os.path.join(dst, f))
        self._flip(name, nxt)

    def _flip(self, name: str, nxt: int) -> None:
        self._versions[name] = nxt
        old = self._dir(name, nxt - 2)
        if os.path.isdir(old):  # keep one back-version for in-flight readers
            if self._txn is not None:
                # inside a commit: defer cleanup so rollback can restore
                self._txn["pending_rm"].append(old)
            else:
                shutil.rmtree(old, ignore_errors=True)

    # -- commit/rollback (the reference's invert-edit walk-back,
    # database.rs:317-327,345-396, expressed as version-pointer restore) --
    _txn = None

    def begin_commit(self) -> None:
        files = {}
        for name in self._versions:
            path = self._dir(name)
            files[name] = (
                {f for f in os.listdir(path) if f.endswith(".parquet")}
                if os.path.isdir(path)
                else set()
            )
        self._txn = {
            "versions": dict(self._versions),
            "epochs": dict(self._epochs),
            "files": files,
            "pending_rm": [],
            "compact": set(),
        }

    def end_commit(self) -> None:
        if self._txn is None:
            return
        txn = self._txn
        try:
            # deferred compaction: only for tables whose version pointer did
            # not move during the commit, so the appended delta files stay
            # one retained generation away from replace()'s cleanup. Runs
            # while the txn is still registered, so replace()'s _flip
            # defers its back-version cleanup into pending_rm below.
            for name in txn["compact"]:
                if self._versions[name] != txn["versions"].get(name):
                    continue
                path = self._dir(name)
                if not os.path.isdir(path):
                    continue
                n_files = sum(
                    1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
                )
                part_col = next(
                    (d.split("=")[0] for d in os.listdir(path)
                     if "=" in d and os.path.isdir(os.path.join(path, d))),
                    None)
                if n_files > self.compact_threshold:
                    self.replace(
                        name,
                        self.read(name).coalesce(max(1, n_files // 32)),
                        partition_col=part_col,
                    )
        finally:
            self._txn = None
        self.save_meta()
        # Nothing is deleted until AFTER the atomic pointer flip above
        # (ADVICE r12): a crash anywhere earlier leaves every pre-commit
        # dir intact — exact rollback AND the read_at(current-1) time
        # travel window both survive. A crash between save_meta and these
        # removals leaves orphan back-version dirs, which _recover()
        # positively identifies (outside {v, v-1}) and reaps on next open.
        for path in txn["pending_rm"]:
            shutil.rmtree(path, ignore_errors=True)

    def rollback(self) -> None:
        """Restore every table to its pre-commit snapshot: version pointers
        flip back (replaced dirs were retained) and files appended to kept
        dirs are removed."""
        if self._txn is None:
            return
        txn, self._txn = self._txn, None
        self._epochs = dict(txn["epochs"])
        # The read memo keys on (table, version, file-count); rollback is the
        # one path that can recreate an already-seen key over a DIFFERENT
        # file set (delete appended files, then re-append the same number),
        # which would leave a cached InMemoryFileIndex listing dead files.
        self._read_cache.clear()
        for name, version in txn["versions"].items():
            newer = self._versions[name]
            self._versions[name] = version
            for v in range(version + 1, newer + 1):
                shutil.rmtree(self._dir(name, v), ignore_errors=True)
            path = self._dir(name, version)
            if os.path.isdir(path):
                for f in os.listdir(path):
                    if f.endswith(".parquet") and f not in txn["files"][name]:
                        os.remove(os.path.join(path, f))

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.root, "_staging"), ignore_errors=True)
