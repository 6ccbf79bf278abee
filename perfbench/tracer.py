"""Spans and Spark job attribution, recorded from outside the program.

``Tracer.install`` wraps public entry points of the crawl layers, the
query builders and the three DataFrame actions the program uses
(``DataFrame.collect``, ``DataFrame.count``, ``DataFrameWriter.parquet``).
Every wrapped action first calls ``setJobGroup`` with a label naming the
operation (crawl round or query), the action's order within it and the
crawlspark function that issued it; jobs Spark starts underneath the
action (broadcasts, AQE stages, checkpoints) inherit that group. After a
pass, ``job_records`` reads per-job and per-stage metrics from Spark's
status store, so each job is attributed to the layer that triggered it.

Op and action spans also carry the CPU seconds the whole process tree
used while they were open (``tree_cpu_s``: this process, the driver JVM
and the Python workers Spark forks for Arrow/pandas UDFs). Spark's own
``executorCpuTime`` counts JVM task threads only; a task that waits on a
Python worker is charged almost nothing there.

Spans live in memory and are written out once, at the end of a run.
``uninstall`` restores every patched attribute.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

import crawlspark.crawl as crawl_mod
import crawlspark.fetch as fetch_mod
import crawlspark.runner as runner_mod
import crawlspark.store as store_mod
from pyspark.sql import DataFrameWriter

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and everything under it (the
    driver JVM, the Python worker daemon and its workers, reaped or not)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stats[int(name)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st:  # utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
        todo.extend(kids.get(pid, []))
    return total / _TICK


_STORE_METHODS = ("frontier_state", "seen_state", "commit_round", "vacuum")
_RUNNER_METHODS = ("__init__", "init", "resume_round", "run")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)
    cpu: float = 0.0  # process-tree CPU seconds, on op and action spans

    @property
    def wall(self) -> float:
        return self.end - self.start


def _caller() -> tuple[str, int]:
    """Innermost crawlspark frame above the wrapper: ("module.func", line)."""
    f = sys._getframe(2)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if mod.startswith("crawlspark."):
            return f"{mod[len('crawlspark.'):]}.{f.f_code.co_name}", f.f_lineno
        f = f.f_back
    return "bench", 0


class Tracer:
    def __init__(self, spark, run_tag: str):
        self.sc = spark.sparkContext
        # the concrete DataFrame class the session hands out
        self._df_class = type(spark.range(0))
        self.tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None
        self._n_actions = 0
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        cpu0 = tree_cpu_s() if cpu else 0.0
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=self._stack[-1].id if self._stack else None,
                 op=self._op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu:
                s.cpu = tree_cpu_s() - cpu0
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: str, name: str, **attrs):
        """One operation (a crawl round or a query): its spans share op_id
        and its jobs carry job groups prefixed with it."""
        outer, self._op, self._n_actions = self._op, op_id, 0
        self._set_group("000|op")
        try:
            with self.span(name, cpu=True, **attrs) as s:
                yield s
        finally:
            self._op = outer
            self._set_group("000|op")

    def _set_group(self, suffix: str) -> None:
        self.sc.setJobGroup(f"{self.tag}|{self._op or '-'}|{suffix}", suffix)

    # -- patching ------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap_span(self, name: str):
        tracer = self

        def make(orig):
            def wrapper(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)
            return wrapper
        return make

    def _wrap_action(self, kind: str):
        tracer = self

        def make(orig):
            def wrapper(*a, **k):
                caller, line = _caller()
                tracer._n_actions += 1
                order = tracer._n_actions
                tracer._set_group(f"{order:03d}|{caller}|{kind}")
                try:
                    with tracer.span(f"action.{kind}", cpu=True, caller=caller,
                                     line=line, order=order):
                        return orig(*a, **k)
                finally:
                    tracer._set_group("000|op")
            return wrapper
        return make

    def _wrap_round(self):
        tracer = self

        def make(orig):
            def wrapper(spark, store, pages, robots, cfg, round_no, *a, **k):
                with tracer.op(f"round{round_no}", "runner.run_round",
                               round=round_no) as s:
                    counts = orig(spark, store, pages, robots, cfg, round_no, *a, **k)
                    s.attrs["counts"] = dict(counts)
                    return counts
            return wrapper
        return make

    def install(self) -> None:
        # run_round is looked up in the runner's namespace at call time
        self._patch(runner_mod, "run_round", self._wrap_round())
        self._patch(crawl_mod, "pop_slice", self._wrap_span("scheduler.pop_slice"))
        self._patch(crawl_mod, "extract_records_and_links",
                    self._wrap_span("kernels.extract_records_and_links"))
        self._patch(fetch_mod.CorpusFetchBackend, "fetch",
                    self._wrap_span("fetch.CorpusFetchBackend.fetch"))
        for m in _STORE_METHODS:
            self._patch(store_mod.FrontierStore, m, self._wrap_span(f"store.{m}"))
        for m in _RUNNER_METHODS:
            self._patch(runner_mod.CrawlRunner, m, self._wrap_span(f"runner.{m}"))
        for owner, attr in ((self._df_class, "collect"), (self._df_class, "count"),
                            (DataFrameWriter, "parquet")):
            self._patch(owner, attr, self._wrap_action(attr))
        # from here on every job of this thread carries a run-tagged group
        self._set_group("000|op")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def wrap_query(self, name: str, builder):
        """A query builder whose plan building is a span (builders may run
        jobs themselves, e.g. checkpoints; those carry the op's group)."""
        return self._wrap_span(f"query.build.{name}")(builder)

    # -- Spark status store --------------------------------------------------

    def job_records(self) -> list[dict]:
        """Every finished job this tracer labelled, with its group, wall
        interval (epoch ms) and summed stage metrics. Waits for the
        listener bus to drain first, so the last job is included."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if group is None or not group.startswith(self.tag + "|"):
                continue
            rec = {"job_id": j.jobId(), "group": group,
                   "t0_ms": sub.get().getTime(), "t1_ms": done.get().getTime(),
                   "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                   "jvm_task_cpu_s": 0.0, "input_bytes": 0, "output_bytes": 0,
                   "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0}
            sit = j.stageIds().iterator()
            while sit.hasNext():
                sd = store.lastStageAttempt(sit.next())
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["executor_run_s"] += sd.executorRunTime() / 1e3
                rec["jvm_task_cpu_s"] += sd.executorCpuTime() / 1e9
                rec["input_bytes"] += sd.inputBytes()
                rec["output_bytes"] += sd.outputBytes()
                rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.diskBytesSpilled()
            out.append(rec)
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, "cpu": s.cpu, "attrs": s.attrs}
                for s in self.spans]
