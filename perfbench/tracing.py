"""Spans and counters recorded from outside the package.

Every wrapper here patches a public module or class attribute of the
package (or of PySpark / pyarrow) from the benchmark's own files; the
package itself is not edited. Spans carry name, start, end, parent and
the operation that caused them, are kept in memory, and are written to
one JSON file when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

# Exec nodes that hand rows to a Python worker.
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas|FlatMapGroupsInPandasWithState|ArrowEvalPythonUDTF"
    r"|BatchEvalPythonUDTF)\w*"
)

COMMIT_METHODS = ("create", "create_if_absent", "append", "merge", "delete", "update")
READ_METHODS = ("read", "to_df", "history")
SERVICE_METHODS = ("get_table", "get_table_history", "merge_to_table", "delete_from_table")


def null_span(name: str, group: str | None = None):
    """Stand-in for ``Tracer.span`` when tracing is off."""
    return nullcontext({})


class Tracer:
    """In-memory span recorder. ``warm`` marks the measured window; only
    spans that start inside it feed the per-layer metrics."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.warm = False
        self.t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j_calls = 0
        self.tables: set[str] = set()
        self.streams: list = []
        self.joblog: JobLog | None = None
        self._last_poll = 0.0

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def count(self, name: str, n: float = 1) -> None:
        if self.warm:
            with self._lock:
                self.counts[name] += n

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """``group`` names the layer; a span nested in another span of
        the same group is kept but not added to that group's total."""
        group = group or name
        st = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "group": group,
            "nested": any(s["group"] == group for s in st),
            "op": getattr(self._local, "op", None),
            "warm": self.warm,
            "start": time.perf_counter() - self.t0,
        }
        st.append(rec)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.perf_counter() - self.t0
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, group: str | None = None, after=None) -> None:
        raw = owner.__dict__.get(attr, getattr(owner, attr))
        is_cls = isinstance(raw, classmethod)
        orig = raw.__func__ if is_cls else raw

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, group) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, out, args)
            return out

        setattr(owner, attr, classmethod(wrapper) if is_cls else wrapper)

    def poll_jobs(self, force: bool = False) -> None:
        """Read finished jobs from the status store, at most once a
        second unless forced, before its retention drops them."""
        with self._lock:
            now = time.perf_counter()
            if self.joblog is None or (not force and now - self._last_poll < 1.0):
                return
            self._last_poll = now
            self.joblog.poll()

    # ------------------------------------------------------- aggregates

    def warm_total(self, group: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["warm"] and s["group"] == group and not s["nested"]
        )

    def warm_count(self, group: str) -> int:
        return sum(1 for s in self.spans if s["warm"] and s["group"] == group and not s["nested"])

    def layer_table(self) -> dict:
        """Every span name in the measured window: calls and seconds."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if not s["warm"] or s["nested"]:
                continue
            row = out.setdefault(s["name"], {"calls": 0, "s": 0.0})
            row["calls"] += 1
            row["s"] += s["end"] - s["start"]
        return {k: {"calls": v["calls"], "s": round(v["s"], 6)} for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, fh)


# ---------------------------------------------------------------- installs


def install_before_registry(tr: Tracer) -> None:
    """Wrappers that must exist before the registry imports the query
    modules: they bind ``load_table`` by name at import time."""
    from delta_lake_play_spark.sources import catalog

    tr.wrap(catalog, "load_table", "sources.load_table")


def install(tr: Tracer, spark) -> None:
    """Wrappers on the table, log, stream, Spark-writer, footer and
    py4j boundaries."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from delta_lake_play_spark.table import delta_log
    from delta_lake_play_spark.table.versioned import VersionedTable

    def after_commit(rec, out, args):
        table = out if isinstance(out, VersionedTable) else args[0]
        version = 0 if isinstance(out, VersionedTable) else out
        if not isinstance(version, int):
            return
        entry_path = os.path.join(table.path, "_log", f"{version:020d}.json")
        try:
            size = os.path.getsize(entry_path)
            with open(entry_path) as fh:
                entry = json.load(fh)
        except (OSError, ValueError):
            return
        if tr.warm:
            tr.tables.add(table.path)
        tr.count("table.commits")
        tr.count("table.log_bytes", size)
        tr.count("table.files", len(entry.get("files", ())))

    for m in COMMIT_METHODS:
        tr.wrap(VersionedTable, m, f"table.{m}", "table.commit", after_commit)
    for m in READ_METHODS:
        tr.wrap(VersionedTable, m, f"table.{m}", "table.read")

    def after_write(rec, out, args):
        tr.count("table.data_writes")

    tr.wrap(DataFrameWriter, "parquet", "table.data_write", after=after_write)

    orig_init = pq.ParquetFile.__init__

    @functools.wraps(orig_init)
    def footer_init(self, *a, **k):
        with tr.span("table.footer_read"):
            orig_init(self, *a, **k)
        tr.count("table.footer_reads")

    pq.ParquetFile.__init__ = footer_init

    def delta_dir_bytes(table) -> int:
        d = os.path.join(table.path, "_delta_log")
        if not os.path.isdir(d):
            return 0
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".json"))

    orig_sync = delta_log.sync

    @functools.wraps(orig_sync)
    def sync(table, *a, **k):
        before = delta_dir_bytes(table)
        with tr.span("delta_log.sync"):
            out = orig_sync(table, *a, **k)
        tr.count("delta_log.syncs")
        tr.count("delta_log.bytes", delta_dir_bytes(table) - before)
        return out

    delta_log.sync = sync
    tr.wrap(delta_log, "read_delta_snapshot", "table.read_delta_snapshot", "table.read")

    def after_start(rec, out, args):
        tr.streams.append(out)

    tr.wrap(DataStreamWriter, "start", "streaming.start", after=after_start)

    # Splits a serving read into planning and execution, as the
    # query-mix loop does around its noop write.
    # The concrete class: PySpark's classic DataFrame overrides toPandas.
    DataFrame = type(spark.range(0))
    orig_to_pandas = DataFrame.toPandas

    @functools.wraps(orig_to_pandas)
    def to_pandas(df):
        with tr.span("spark.plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        tr.count("udf.python_nodes", len(PYTHON_NODES.findall(plan)))
        with tr.span("spark.execute"):
            return orig_to_pandas(df)

    DataFrame.toPandas = to_pandas

    client_cls = type(spark.sparkContext._gateway._gateway_client)
    orig_send = client_cls.send_command

    @functools.wraps(orig_send)
    def send_command(self, command, *a, **k):
        if not command.startswith("m\n"):
            tr.py4j_calls += 1
        return orig_send(self, command, *a, **k)

    client_cls.send_command = send_command


def install_service(tr: Tracer, service_cls) -> None:
    for m in SERVICE_METHODS:
        tr.wrap(service_cls, m, f"serving.{m}", "serving.handler")


def drain_streams(tr: Tracer) -> None:
    """Batch count and per-phase durations of the streams started since
    the last call, from ``recentProgress``."""
    for q in tr.streams:
        for p in q.recentProgress:
            d = p.durationMs or {}
            tr.count("streaming.batches")
            tr.count("streaming.latest_offset_s", d.get("latestOffset", 0) / 1000.0)
            tr.count("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
    tr.streams.clear()


# ------------------------------------------------------------ Spark jobs


class JobLog:
    """Jobs read from Spark's status store by job-id window (streaming
    jobs run on the stream thread and carry no caller job group). Job
    ids are sequential, so each poll reads only the jobs after the last
    one recorded."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.stage_defaults = [
            getattr(self.store, f"stageData$default${i}")() for i in (3, 5)
        ]
        self.jobs: dict[int, dict] = {}
        self.seen_stages: set[int] = set()
        latest = self.store.jobsList(None)  # newest first
        self.next_id = latest.apply(0).jobId() + 1 if latest.size() else 0

    def poll(self) -> None:
        """Record finished jobs in id order, stopping at the first one
        that does not exist yet or is still running."""
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                j = self.store.job(self.next_id)
            except Py4JJavaError:
                return
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                return
            rec = {
                "id": self.next_id,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "tasks": j.numTasks(),
                "shuffle_bytes": 0,
                "spill_bytes": 0,
            }
            stage_ids = j.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                try:
                    attempts = self.store.stageData(sid, False, self.stage_defaults[0], False, self.stage_defaults[1])
                except Py4JJavaError:  # skipped stages have no data
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs[self.next_id] = rec
            self.next_id += 1

    def in_window(self, start: float, end: float) -> list[dict]:
        """Jobs submitted inside [start, end] (wall-clock seconds)."""
        return [j for j in self.jobs.values() if start <= j["start"] <= end]

    def busy(self, start: float, end: float) -> float:
        """Length of the union of job intervals clipped to [start, end]."""
        iv = sorted(
            (max(j["start"], start), min(j["end"], end))
            for j in self.jobs.values()
            if j["end"] > start and j["start"] < end
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total
