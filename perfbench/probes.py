"""Measurements taken from outside the program: Spark's application-wide
status counters, CPU and memory of the session process, the JVM and
the Python workers, and (traced runs) spans around the public entry
points of each layer.

Spark counts are read application-wide through py4j — the DAG
scheduler's job and stage ids and the status store's executor totals —
never by job group: job groups are thread-local, so they miss the jobs
that run on foreachBatch and thread-pool threads.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# counter name -> ExecutorSummary accessor
_EXEC_FIELDS = {
    "tasks": "totalTasks",
    "gc_ms": "totalGCTime",
    "input_b": "totalInputBytes",
    "shuffle_read_b": "totalShuffleRead",
    "shuffle_write_b": "totalShuffleWrite",
}


class SparkCounters:
    """Cumulative application-wide counters of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def snapshot(self, drain: bool = True) -> dict[str, int]:
        sc = self._sc
        if drain:  # status store updates arrive through the listener bus
            sc.listenerBus().waitUntilEmpty()
        dag = sc.dagScheduler()
        out = {"jobs": dag.nextJobId(), "stages": dag.nextStageId()}
        execs = sc.statusStore().executorList(False)
        totals = dict.fromkeys(_EXEC_FIELDS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for k, getter in _EXEC_FIELDS.items():
                totals[k] += getattr(e, getter)()
        out.update(totals)
        return out


def stage_run_ms(spark) -> dict[int, int]:
    """Stage id -> summed task run time (ms) of every stage the status
    store holds.  One pass over all stages, so call it once per run."""
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    stages = spark.sparkContext._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())
    out: dict[int, int] = {}
    for i in range(stages.size()):
        st = stages.apply(i)
        out[st.stageId()] = out.get(st.stageId(), 0) + st.executorRunTime()
    return out


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from `state` on


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class Processes:
    """CPU seconds and resident memory of this process, the JVM it
    launched and the JVM's descendants (the Python worker daemon and
    its forked workers)."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.me = os.getpid()

    def tree(self) -> dict[int, list[str]]:
        """pid -> stat fields of every live descendant of the JVM."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in stats.items():
            kids.setdefault(int(st[1]), []).append(pid)
        out, todo = {}, list(kids.get(self.jvm, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: session, JVM, workers.  Workers that
        already exited are counted through their parents' reaped-child
        times (fields cutime/cstime)."""
        t = os.times()
        jvm = _stat(self.jvm)
        jvm_s = (int(jvm[11]) + int(jvm[12])) / _CLK if jvm else 0.0
        reaped = (int(jvm[13]) + int(jvm[14])) / _CLK if jvm else 0.0
        workers = reaped + sum(
            (int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])) / _CLK
            for st in self.tree().values()
        )
        return {"session": t.user + t.system, "jvm": jvm_s, "workers": workers}

    def rss_bytes(self) -> int:
        pids = [self.me, self.jvm, *self.tree()]
        total = 0
        for pid in pids:
            st = _stat(pid)
            if st is not None:
                total += int(st[21]) * _PAGE
        return total


class PeakRss:
    """Samples total RSS on a background thread while entered and not
    paused."""

    def __init__(self, procs: Processes, period_s: float = 0.25):
        self.procs = procs
        self.period = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = None

    def __enter__(self):
        self._active.set()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.period):
            if self._active.is_set():
                self.peak = max(self.peak, self.procs.rss_bytes())

    @contextlib.contextmanager
    def paused(self):
        was = self._active.is_set()
        self._active.clear()
        try:
            yield
        finally:
            if was:
                self._active.set()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory spans around calls into the program's public entry
    points.  Each span carries its wall time and the application-wide
    Spark counter deltas over its interval (read without draining the
    listener bus, so a span's counts can trail by in-flight events;
    operation-level counts are drained).  Spans of concurrent threads
    overlap, so a layer's summed time can exceed the operation's."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self.op: str | None = None  # the operation the spans belong to
        self.pass_no = 0  # and its pass (0: warm-up)
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, layer: str, fn, after=None):
        """``fn`` traced; ``after(span, args, kwargs)`` may add fields."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = self.counters.snapshot(drain=False)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span = {"op": self.op, "pass": self.pass_no, "layer": layer, "name": fn.__name__,
                        "thread": threading.get_ident(), "s": time.perf_counter() - t0,
                        **delta(self.counters.snapshot(drain=False), before)}
                if after is not None:
                    after(span, args, kwargs)
                with self._lock:
                    self.spans.append(span)

        return traced

    def patch_function(self, layer: str, module, name: str) -> None:
        """Replace ``module.name`` and every ``qaapi_spark`` module's
        by-name import of it with a traced wrapper."""
        orig = getattr(module, name)
        traced = self.wrap(layer, orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("qaapi_spark") and getattr(m, name, None) is orig:
                self._patched.append((m, name, orig))
                setattr(m, name, traced)

    def patch_method(self, layer: str, cls, name: str, after=None) -> None:
        orig = getattr(cls, name)
        self._patched.append((cls, name, orig))
        setattr(cls, name, self.wrap(layer, orig, after))

    def unpatch(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def add_epoch_listener(spark):
    """Register a ``StreamingQueryListener`` that records every
    streaming micro-batch (epoch) duration in ms (traced runs only)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class EpochListener(StreamingQueryListener):
        def __init__(self):
            self.durations_ms: list[int] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.durations_ms.append(int(event.progress.batchDuration))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = EpochListener()
    spark.streams.addListener(listener)
    return listener
