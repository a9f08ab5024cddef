"""Spans around calls into the engine's layers, attributed to Spark work.

A span is opened around a call into one of the engine's public functions
(the benchmark wraps the module attribute the engine looks up at call
time). While the span is open its tag is added to the session with
``SparkSession.addTag``, so every Spark job started inside carries it. The
status store keeps the tag with a session/thread prefix, which is why jobs
are matched on the tag's suffix.

Spans are kept in memory. At the end of each traced benchmark operation
(:meth:`Tracer.operation`) the tracer reads the Spark status stores once
and attaches to each span the jobs it caused and their stage and SQL
metrics.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    tag: str = ""
    jobs: list[dict] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover.

    Children may overlap each other; only the union of their intervals,
    clipped to the span, is subtracted."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str | None) -> float:
    """Total of a SQL-metric display string, in bytes or milliseconds.

    Multi-task metrics read ``total (min, med, max (stageId: taskId))``
    on the first line and ``25.6 MiB (1.2 MiB, ...)`` on the second; a
    single value reads ``0 ms`` or ``10,000``. The total is the first
    value on the last line."""
    if not text:
        return 0.0
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def tag_matches(stored: str, tag: str) -> bool:
    """A tag as the status store keeps it ends with ``-<tag>`` after the
    session/thread prefix ``spark-session-<id>-thread-<id>``."""
    return stored == tag or stored.endswith("-" + tag)


# SQL metrics the Python-worker counters are read from, by display name
PYTHON_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def _seq(scala_seq) -> list:
    out = []
    it = scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class StatusReader:
    """Reads the jobs that finished since the previous read from the
    application status store, with their stage and SQL metrics."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._last_exec = 0
        self.skip()  # jobs that ran before the reader existed

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that already returned."""
        self._sc.listenerBus().waitUntilEmpty()

    def _read_jobs(self) -> list[dict]:
        jobs = []
        # jobsList returns the newest job first
        for j in _seq(self._store.jobsList(None)):
            jid = j.jobId()
            if jid <= self._last_job:
                break
            jobs.append(
                {
                    "id": jid,
                    "tags": [str(t) for t in _seq(j.jobTags())],
                    "stages": [int(s) for s in _seq(j.stageIds())],
                    "start": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                }
            )
        return jobs

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage the store no longer holds
            return None
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "id": sid,
            "attempt": s.attemptId(),
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": s.jvmGcTime(),
            "shuffle_bytes": s.shuffleWriteBytes(),
        }

    def task_skew(self, stage: dict) -> float:
        """Max over median task duration of one stage."""
        durs = sorted(
            t.duration().get()
            for t in _seq(
                self._store.taskList(stage["id"], stage["attempt"], 100000)
            )
            if t.duration().isDefined()
        )
        if not durs:
            return 0.0
        med = durs[len(durs) // 2] if len(durs) % 2 else (
            durs[len(durs) // 2 - 1] + durs[len(durs) // 2]
        ) / 2
        return durs[-1] / med if med > 0 else 1.0

    def _python_metrics(self) -> dict[int, dict]:
        """Python-worker SQL metrics of executions started since the
        previous read, keyed by each job id the execution ran."""
        n = self._sql.executionsCount()
        by_job: dict[int, dict] = {}
        if n > self._last_exec:
            for e in _seq(self._sql.executionsList(self._last_exec, n - self._last_exec)):
                wanted = {
                    m.accumulatorId(): PYTHON_METRICS[m.name()]
                    for m in _seq(e.metrics())
                    if m.name() in PYTHON_METRICS
                }
                totals = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
                if wanted:
                    values = self._sql.executionMetrics(e.executionId())
                    for acc, key in wanted.items():
                        v = values.get(acc)
                        if v.isDefined():
                            totals[key] += parse_sql_metric(v.get())
                jids = [int(j) for j in _seq(e.jobs().keys())]
                # an execution's metrics are billed to its first job once
                for i, jid in enumerate(sorted(jids)):
                    by_job[jid] = totals if i == 0 else dict.fromkeys(totals, 0.0)
            self._last_exec = n
        return by_job

    def skip(self) -> None:
        """Pass over everything finished so far without reading it."""
        self.drain()
        jobs = self._store.jobsList(None)
        if not jobs.isEmpty():
            self._last_job = max(self._last_job, jobs.head().jobId())
        self._last_exec = self._sql.executionsCount()

    def new_jobs(self, wanted) -> list[dict]:
        """The jobs finished since the previous call that ``wanted(tags)``
        accepts, with their executed stages and Python-worker counters.
        Stage and SQL data are read for these jobs only."""
        jobs = self._read_jobs()
        if jobs:
            self._last_job = jobs[0]["id"]
        jobs = [j for j in jobs if wanted(j["tags"])]
        py = self._python_metrics()
        for j in jobs:
            j["stage_data"] = [s for s in map(self._stage, j["stages"]) if s]
            j["python"] = py.get(j["id"], dict.fromkeys(PYTHON_METRICS.values(), 0.0))
        return jobs


class Patches:
    """Module attributes replaced by wrappers, and the originals to put
    back. The engine looks these attributes up at call time, so a wrapper
    sees every call."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, around) -> None:
        """Replace ``module.attr`` with ``around(original)``."""
        orig = getattr(module, attr)
        setattr(module, attr, functools.wraps(orig)(around(orig)))
        self._saved.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()


class Tracer:
    """Records spans around wrapped engine functions.

    ``wrap`` replaces a module attribute with a function that opens a span
    named after the layer for the duration of the call, inside an
    operation; ``restore`` puts every original back. Spark work inside a
    span carries the span's tag.
    """

    def __init__(self, spark):
        self.spark = spark
        self.reader = StatusReader(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches = Patches()
        self.op = 0
        self.active = False

    @contextmanager
    def operation(self):
        """One traced benchmark operation: wrapped functions open spans
        only inside it, and its jobs are attributed when it ends."""
        self.op += 1
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self._attribute()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1].id if self._stack else None
        sp = Span(sid, name, self.op, parent, time.monotonic(), tag=f"pb-span-{sid}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.spark.addTag(sp.tag)
        try:
            yield sp
        finally:
            self.spark.removeTag(sp.tag)
            sp.end = time.monotonic()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        def around(orig):
            def traced(*args, **kwargs):
                if not self.active:
                    return orig(*args, **kwargs)
                with self.span(name):
                    return orig(*args, **kwargs)

            return traced

        self._patches.wrap(module, attr, around)

    def restore(self) -> None:
        self._patches.restore()

    def _attribute(self) -> None:
        """Attach the jobs finished since the last call to the current
        operation's spans whose tag they carry."""
        op_spans = [s for s in self.spans if s.op == self.op]

        def wanted(tags):
            return any(tag_matches(t, s.tag) for t in tags for s in op_spans)

        self.reader.drain()
        for j in self.reader.new_jobs(wanted):
            for s in op_spans:
                if any(tag_matches(t, s.tag) for t in j["tags"]):
                    s.jobs.append(j)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def named(self, name: str, ops=None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]
