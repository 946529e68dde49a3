"""Tracing from outside the engine: spans around calls into package
modules, one Spark job group per op, and SQL metrics read from the
executed (AQE) plan.

Spans live in memory and are written out when the run ends. With tracing
off every hook is a no-op, so the untraced run times the same code path
minus the bookkeeping; the traced run reports the difference.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: modules whose self time the traced run reports (the package layers the
#: benchmark calls into, plus Spark actions attributed to the operator
#: that built the DataFrame)
MODULES = ("session", "sources.writer", "sources.points", "sources.catalog",
           "geom.zones", "operators.spatial_join", "operators.knn",
           "operators.way_join", "operators.tileagg", "functions.cells",
           "media.codec")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int


def module_of(span_name: str) -> str:
    """'operators.spatial_join.join_zones' -> 'operators.spatial_join'."""
    for m in MODULES:
        if span_name == m or span_name.startswith(m + "."):
            return m
    return span_name.split(".")[0]


class Tracer:
    def __init__(self, spark_context_fn, enabled: bool):
        self.enabled = enabled
        self._sc = spark_context_fn
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        #: seconds spent in tracing bookkeeping (plan walks, status reads),
        #: added by the caller that does it
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.op, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op_group(self, op_id: int, description: str):
        """Run one op under its own Spark job group (both modes: it costs
        one py4j call and lets knn jobs-per-query be counted untraced)."""
        self.op = op_id
        sc = self._sc()
        sc.setJobGroup(f"perfbench-op-{op_id}", description)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.op = None

    def jobs_of(self, op_id: int) -> list[int]:
        return list(self._sc().statusTracker()
                    .getJobIdsForGroup(f"perfbench-op-{op_id}"))

    # -- Spark status ----------------------------------------------------------

    def stage_stats(self, op_id: int) -> dict:
        """Jobs, stages and the task-time skew of the op's busiest stage."""
        from py4j.protocol import Py4JJavaError
        sc = self._sc()
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = self.jobs_of(op_id)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        busiest, skew = 0, None
        for s in stages:
            try:
                tl = store.taskList(s, 0, 100_000)
            except Py4JJavaError:   # stage skipped or not retained
                continue
            durs = sorted(tl.apply(i).duration().get()
                          for i in range(tl.size())
                          if tl.apply(i).duration().isDefined())
            if len(durs) >= 2 and sum(durs) > busiest:
                busiest = sum(durs)
                skew = durs[-1] / max(statistics.median(durs), 1)
        return {"jobs": len(jobs), "stages": len(stages), "skew": skew}

    # -- output ----------------------------------------------------------------

    def self_times(self, min_op: int = 0) -> dict[str, float]:
        """Per-module self time over the spans of ops numbered ``min_op``
        and up: span duration minus the part of it its child spans cover
        (children never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = dict.fromkeys(MODULES, 0.0)
        for sp in self.spans:
            if sp.op is None or sp.op < min_op:
                continue
            m = module_of(sp.name)
            out[m] = out.get(m, 0.0) + (sp.end - sp.start) - child[sp.id]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


def plan_metrics(plan) -> list[dict]:
    """One entry per node of an executed plan: ``node`` (class name),
    ``metrics`` ({name: raw value}) and ``rows_in`` (output rows of the
    nearest descendant that counts them, i.e. what flowed into the node).
    Descends through AdaptiveSparkPlan and *QueryStage wrappers. A reused
    exchange is not descended into: its metrics belong to the exchange it
    reuses, which the walk already visits."""
    out: list[dict] = []

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan())
            return
        if cls == "ReusedExchangeExec":
            return
        ms = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = int(kv._2().value())
        me = {"node": cls, "metrics": ms, "rows_in": None}
        out.append(me)
        start = len(out)
        ch = p.children().iterator()
        while ch.hasNext():
            walk(ch.next())
        me["rows_in"] = next((d["metrics"]["numOutputRows"]
                              for d in out[start:]
                              if "numOutputRows" in d["metrics"]), None)

    walk(plan)
    return out


def is_python_node(cls: str) -> bool:
    """Plan nodes that ship rows to Python workers through Arrow."""
    return cls.endswith("Exec") and any(
        t in cls for t in ("Pandas", "Arrow", "Python"))


class RssSampler:
    """Peak resident memory of the JVM driver and of the Python workers,
    sampled from /proc every 0.2 s on a daemon thread (traced runs only).
    """

    def __init__(self):
        self.driver_peak_kb = 0
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            procs = proc_table()
            desc = descendants(procs, me)
            jvm_kb, workers_kb = 0, 0
            for pid in desc:
                cmd, rss = procs[pid][1], procs[pid][2]
                if "org.apache.spark" in cmd:      # the driver JVM
                    jvm_kb = max(jvm_kb, rss)
                elif "pyspark" in cmd:             # daemon and workers
                    workers_kb += rss
            self.driver_peak_kb = max(self.driver_peak_kb, jvm_kb)
            self.workers_peak_kb = max(self.workers_peak_kb, workers_kb)
            self._stop.wait(0.2)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests instead of this
    machine, in seconds summed over CPUs since boot (0 where the kernel
    does not account it)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, cmdline, rss kB) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            rss_pages = int(stat.rsplit(")", 1)[1].split()[21])
        except (OSError, ValueError, IndexError):
            continue
        out[int(d)] = (ppid, cmd, rss_pages * os.sysconf("SC_PAGE_SIZE")
                       // 1024)
    return out


def descendants(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out
