"""Layer tracing from outside the program.

:class:`Tracer` wraps the public entry points of each layer of
``dataframe_differ_spark`` (and the Spark calls the layers share) and
records a span per call: name, layer, start, end, parent span and
operation id. Spans stay in memory and are written out when the run ends.
A layer's self time is its spans' durations minus the part covered by
their child spans, so the self times of one operation add up to its
latency.

:class:`ExecAccounting` reads Spark's own counters after every operation:
jobs, stages, tasks, shuffle and spill bytes by job-id window from the
status store, JVM GC time, and micro-batches from a
``StreamingQueryListener``.

Nothing here changes what the program computes. Wrappers are installed
only for traced runs; while ``Tracer.enabled`` is false they call straight
through.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

#: Public diff-core entry points (``operators/diff_core.py``).
DIFF_CORE_FNS = (
    "diff",
    "diff_summary",
    "column_mismatch_stats",
    "diff_unkeyed",
    "duplicate_keys",
    "changed_sample",
    "report",
    "diff_bucket_checksums",
)
_DF_ACTIONS = (
    "collect",
    "count",
    "toPandas",
    "toArrow",
    "take",
    "tail",
    "first",
    "head",
    "isEmpty",
    "toLocalIterator",
    "foreach",
    "foreachPartition",
    "show",
)
_WRITER_ACTIONS = (
    "save",
    "parquet",
    "csv",
    "json",
    "orc",
    "text",
    "saveAsTable",
    "insertInto",
)
#: An action opens an ``exec`` span only when called from query code or
#: from the benchmark itself; inside another layer (a checkpoint, an
#: artifact save, a diff report, a foreachBatch callback) its time stays
#: with that layer.
_EXEC_PARENTS = ("op", "queries")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans and per-layer counters for the operation in progress."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._op_stack: list[Span] = []
        self._patched: list[tuple[object, str, object, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _innermost(self) -> Span | None:
        """Innermost open span of this thread; on a thread with none open
        (a foreachBatch callback, a listener), of the operation's thread,
        which is blocked waiting for it."""
        st = self._stack()
        if st:
            return st[-1]
        return self._op_stack[-1] if self._op_stack else None

    def active(self) -> bool:
        return self.enabled and self._op is not None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active():
            yield None
            return
        parent = self._innermost()
        with self._lock:
            self._ids += 1
            sp = Span(self._ids, name, layer, time.perf_counter(), 0.0,
                      parent.id if parent else None, self._op)
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def operation(self, name: str):
        """The root span of one timed operation."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._ids += 1
            self._op = self._ids
        self._op_stack = self._stack()
        try:
            with self.span("op", name) as sp:
                yield sp
        finally:
            self._op = None
            self._op_stack = []

    def count(self, name: str, value: float = 1) -> None:
        if self.active():
            with self._lock:
                self.counters[name] += value

    def add(self, counts: Counter) -> None:
        """Merge counts read after an operation ended."""
        with self._lock:
            self.counters.update(counts)

    # ---------------------------------------------------------- wrappers

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        wrapped = functools.wraps(orig)(make(orig))
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig, wrapped))

    def _layer(self, owner, attr: str, layer: str) -> None:
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(layer, attr):
                    return orig(*a, **kw)

            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Wrap every layer's entry points. Call before ``load_all()``:
        query modules bind ``load_table`` at import time; :meth:`rebind`
        then catches any module that imported a name earlier."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.query import StreamingQuery

        import dataframe_differ_spark.operators.diff_core as diff_core
        import dataframe_differ_spark.operators.persistence as persistence
        import dataframe_differ_spark.operators.session_cache as session_cache
        import dataframe_differ_spark.streaming.foreach_batch as foreach_batch
        import dataframe_differ_spark.tables as tables

        tracer = self

        def load_table(orig):
            def wrapper(spark, sf_dir, name):
                before = len(tables._TABLE_CACHE.get(spark, ()))
                with tracer.span("tables", f"load_table:{name}"):
                    df = orig(spark, sf_dir, name)
                hit = len(tables._TABLE_CACHE.get(spark, ())) == before
                tracer.count("tables.calls")
                tracer.count("tables.hits", int(hit))
                return df

            return wrapper

        def session_cached(orig):
            def wrapper(spark, key, builder):
                hit = key in session_cache._CACHE.get(spark, {})
                t0 = time.perf_counter()
                with tracer.span("session_cache", f"session_cached:{key[0]}"):
                    out = orig(spark, key, builder)
                tracer.count("session_cache.hits" if hit else "session_cache.misses")
                if not hit:
                    tracer.count("session_cache.build_s", time.perf_counter() - t0)
                return out

            return wrapper

        def checkpoint(orig):
            def wrapper(df, *a, **kw):
                with tracer.span("checkpoint", orig.__name__):
                    out = orig(df, *a, **kw)
                tracer.count("checkpoint.count")
                return out

            return wrapper

        def persist(kind):
            def make(orig):
                def wrapper(*a, **kw):
                    with tracer.span("persistence", orig.__name__):
                        out = orig(*a, **kw)
                    tracer.count(f"persistence.{kind}")
                    if kind != "loads" and tracer.active():
                        path = a[1] if len(a) > 1 else kw.get("path")
                        tracer.count("persistence.written_bytes", _du(path))
                    return out

                return wrapper

            return make

        def action(orig):
            def wrapper(*a, **kw):
                inner = tracer._innermost()
                if inner is None or inner.layer not in _EXEC_PARENTS:
                    return orig(*a, **kw)
                with tracer.span("exec", orig.__name__):
                    return orig(*a, **kw)

            return wrapper

        self._patch(tables, "load_table", load_table)
        self._patch(session_cache, "session_cached", session_cached)
        for fn in DIFF_CORE_FNS:
            self._layer(diff_core, fn, "diff_core")
        self._patch(persistence, "save_artifact", persist("saves"))
        self._patch(persistence, "compact_artifact", persist("compacts"))
        self._patch(persistence, "load_artifact", persist("loads"))
        self._patch(DataFrame, "localCheckpoint", checkpoint)
        self._patch(DataFrame, "checkpoint", checkpoint)
        for name in _DF_ACTIONS:
            self._patch(DataFrame, name, action)
        for name in _WRITER_ACTIONS:
            self._patch(DataFrameWriter, name, action)
        self._layer(StreamingQuery, "awaitTermination", "streaming")
        self._layer(StreamingQuery, "processAllAvailable", "streaming")
        self._layer(foreach_batch.UpsertMergeSink, "__call__", "streaming")
        self.rebind()

    def rebind(self) -> None:
        """Point every module-level name bound to an original at its wrapper."""
        _swap_names({id(orig): wrapped for _, _, orig, wrapped in self._patched})

    def uninstall(self) -> None:
        for owner, attr, orig, _ in reversed(self._patched):
            setattr(owner, attr, orig)
        _swap_names({id(wrapped): orig for _, _, orig, wrapped in self._patched})
        self._patched.clear()

    # ------------------------------------------------------------ output

    def take(self) -> tuple[list[Span], Counter]:
        """Spans and counters recorded since the last call; resets both."""
        with self._lock:
            spans, counters = self.spans, self.counters
            self.spans, self.counters = [], Counter()
        return spans, counters

    @staticmethod
    def write(path: str, spans: list[Span]) -> None:
        with open(path, "w") as f:
            for sp in spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _swap_names(swap: dict[int, object]) -> None:
    """Rebind module-level names of the program: object ``id`` -> replacement."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("dataframe_differ_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            new = swap.get(id(val))
            if new is not None:
                setattr(mod, attr, new)


def self_times_by_span(spans: list[Span]) -> dict[int, float]:
    """Seconds of self time per span id: the span's duration minus the
    union of its children's intervals (clipped to it)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append((sp.start, sp.end))
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, 0.0, None
        for s, e in sorted(kids.get(sp.id, ())):
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is not None and s <= cur_e:
                cur_e = max(cur_e, e)
                continue
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = (sp.end - sp.start) - covered
    return out


def _du(path: str | None) -> int:
    total = 0
    if path and os.path.isdir(path):
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class ExecAccounting:
    """Spark-side counters for one operation, read right after it returns.

    Jobs are selected by id window: every job whose id was assigned between
    :meth:`start` and :meth:`finish`. Micro-batch jobs do not carry the
    caller's job group, so a group filter would miss them. The status
    store keeps only the most recent jobs and stages, so the window is read
    after every operation.
    """

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = spark.sparkContext._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._job0 = 0
        self._gc0 = 0
        self._batches: Counter = Counter()
        batches = self._batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches["streaming.batches"] += 1
                batches["streaming.batch_s"] += p.batchDuration / 1000.0
                batches["streaming.input_rows"] += p.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def start(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._batches.clear()
        self._job0 = self._sc.dagScheduler().numTotalJobs()
        self._gc0 = self._gc_ms()

    def finish(self) -> Counter:
        gc_ms = self._gc_ms() - self._gc0
        self._sc.listenerBus().waitUntilEmpty()
        job1 = self._sc.dagScheduler().numTotalJobs()
        c: Counter = Counter()
        stages: set[int] = set()
        for jid in range(self._job0, job1):
            c["exec.jobs"] += 1
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store: counted, not detailed
                c["exec.jobs_unread"] += 1
                continue
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: nothing ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += st.numTasks()
            c["exec.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            c["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            c["exec.spill_mb"] += st.diskBytesSpilled() / 2**20
        c["exec.gc_s"] += gc_ms / 1000.0
        c.update(self._batches)
        return c
