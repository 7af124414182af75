"""Outside-in layer trace for the destination benchmark.

Spans are recorded from the benchmark's own files: around the public
calls the workloads make, and — only when tracing is on — around a
few package functions by wrapping them at their import site
(:func:`install`). The package itself is not changed.

* A span has a name, start, end, parent span and the id of the
  operation it belongs to. Spans stay in memory until the run ends.
* Counters are recorded at the same boundaries: Spark jobs, stages,
  tasks and executor bytes for the job-id range an operation used
  (read from the driver's status store), catalog calls, registry
  calls, warehouse bytes and files written, persisted RDDs.
* A layer's self time is its spans' duration minus the part of that
  interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections import Counter, defaultdict


class Tracer:
    """Span and counter recorder for one benchmark process."""

    def __init__(self) -> None:
        #: True while a traced operation is running; wrappers and spans
        #: cost one attribute test when it is False
        self.active = False
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self._stack: list[int] = []
        self.op_id = -1
        self.counts: Counter = Counter()
        self.marks: dict[str, int] = {}
        self.job_id = None  # callable -> next Spark job id, set by the run

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.counts = Counter()
        self.marks = {}
        self._stack = []
        self.active = True

    def end_op(self) -> None:
        self.active = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.time(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def in_span(self, prefix: str) -> bool:
        return any(self.spans[i][0].startswith(prefix) for i in self._stack)

    def count(self, name: str) -> None:
        if self.active:
            self.counts[name] += 1

    def mark_jobs(self, name: str) -> None:
        """Remember the next Spark job id at a phase boundary."""
        if self.active and self.job_id is not None:
            self.marks[name] = self.job_id()

    def op_spans(self, op_id: int) -> list[list]:
        return [s for s in self.spans if s[4] == op_id]


def self_times(spans: list[list]) -> dict[str, float]:
    """Seconds of self time per span name over a whole span list (parent
    fields index into it): duration minus the union of the child
    spans' intervals."""
    children = defaultdict(list)
    for s in spans:
        if s[3] is not None:
            children[s[3]].append((s[1], s[2]))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s[0]] += (s[2] - s[1]) - covered(children[i], s[1], s[2])
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Spark counters, read from outside the package
# ---------------------------------------------------------------------------


class SparkProbe:
    """Job-id range and status-store reads over py4j. Works with
    ``spark.ui.enabled=false``: the status store is fed by the listener
    bus either way."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = jsc

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def persisted_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())

    def jobs(self, j0: int, j1: int) -> dict:
        """Totals over jobs [j0, j1): counts, executor metrics and the
        jobs' wall-clock intervals (epoch seconds)."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = Counter()
        intervals = []
        for j in range(j0, j1):
            out["jobs"] += 1
            try:
                jd = self._store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
            except Exception:  # job evicted or never registered
                pass
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(s)
                except Exception:
                    continue
                done_tasks = int(sd.numCompleteTasks())
                if done_tasks == 0:
                    continue  # skipped stage (reused shuffle output)
                out["stages"] += 1
                out["tasks"] += done_tasks
                out["task_ms"] += int(sd.executorRunTime())
                out["input_bytes"] += int(sd.inputBytes())
                out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(
                    sd.diskBytesSpilled()
                )
        out["intervals"] = intervals
        return out


def planning_ms(df) -> dict:
    """Catalyst phase durations of an executed DataFrame, from
    ``queryExecution().tracker()``."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# ---------------------------------------------------------------------------
# storage counters
# ---------------------------------------------------------------------------


def scan(root: str) -> dict:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files new or changed between two scans; Spark's
    checksum side files are left out."""
    b = n = 0
    for p, st in after.items():
        if before.get(p) != st and not p.endswith(".crc"):
            b += st[0]
            n += 1
    return b, n


def dir_bytes(path: str) -> int:
    return sum(st[0] for p, st in scan(path).items() if not p.endswith(".crc"))


# ---------------------------------------------------------------------------
# wrappers around package internals (installed only for a traced run)
# ---------------------------------------------------------------------------

#: registry classes whose public methods count as one registry call
REGISTRIES = (
    ("views", "Views"),
    ("constraints", "Constraints"),
    ("colmeta", "ColumnMeta"),
    ("sequences", "Sequences"),
    ("schemas", "Schemas"),
)

CATALOG_METHODS = (
    "tableExists", "getTable", "refreshTable", "listTables",
    "listColumns", "databaseExists", "dropTempView", "currentDatabase",
    "setCurrentDatabase", "listDatabases", "isCached", "cacheTable",
    "uncacheTable", "clearCache", "recoverPartitions", "functionExists",
)


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        if not tracer.active:
            return fn(*a, **kw)
        with tracer.span(name):
            return fn(*a, **kw)

    return wrapper


def _registry_call(tracer: Tracer, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        if not tracer.active or tracer.in_span("registry"):
            return fn(*a, **kw)
        tracer.count("registry_calls")
        with tracer.span("registry"):
            return fn(*a, **kw)

    return wrapper


def _counted(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        tracer.count(name)
        return fn(*a, **kw)

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the sink stages, the five JSON registries, the SQL front
    door and the session-catalog calls with spans and counters."""
    import importlib

    from pyspark.sql.catalog import Catalog

    from quasar_destination_h2_spark import engine as engine_mod
    from quasar_destination_h2_spark.sources import sink as sink_mod

    sink_cls = sink_mod.CsvCreateSink
    sink_cls.consume = _spanned(tracer, "sink.consume", sink_cls.consume)
    spool = sink_cls.__dict__["_spool"].__func__
    sink_cls._spool = staticmethod(_spanned(tracer, "sink.spool", spool))
    sink_cls._persist_catalog = _spanned(
        tracer, "sink.catalog_persist", sink_cls._persist_catalog
    )
    sink_mod.prepare_replace = _spanned(
        tracer, "sink.prepare_replace", sink_mod.prepare_replace
    )
    sink_mod.load_csv_with_fallback = _spanned(
        tracer, "sink.scan_write", sink_mod.load_csv_with_fallback
    )
    read_csv = sink_mod.read_csv

    @functools.wraps(read_csv)
    def counted_read_csv(*a, **kw):
        if "multiLine" in kw:
            tracer.count("multiline_retries")
        return read_csv(*a, **kw)

    sink_mod.read_csv = counted_read_csv

    for mod_name, cls_name in REGISTRIES:
        cls = getattr(
            importlib.import_module(f"quasar_destination_h2_spark.{mod_name}"),
            cls_name,
        )
        for attr, fn in list(vars(cls).items()):
            if not attr.startswith("_") and callable(fn):
                setattr(cls, attr, _registry_call(tracer, fn))

    eng = engine_mod.Engine
    eng.execute_sql = _spanned(tracer, "sql_dml.execute", eng.execute_sql)

    for attr in CATALOG_METHODS:
        if hasattr(Catalog, attr):
            setattr(
                Catalog, attr, _counted(tracer, "catalog_rpcs", getattr(Catalog, attr))
            )
