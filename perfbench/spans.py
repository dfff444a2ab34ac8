"""Traced-run readout: spans, Spark's stage and SQL stores, kernel timings.

Each span sets its own Spark job group, so every job (and every stage and
SQL execution under it) started inside the span carries the span's id.
After each traced op, ``Readout.collect`` maps the op's jobs to stages
(stage store: run time, JVM CPU, GC, tasks, shuffle and spill bytes) and
to SQL executions (SQL store: per-plan-node metrics, whose values Spark
hands back as formatted strings such as ``"706.0 MiB"`` or
``"total (min, med, max (stageId: taskId))\\n5.5 s (1.3 s, ...)"``).
Both stores work with the UI disabled.
Spark fills both stores from its asynchronous listener bus, and writes
an execution's final SQL record (end time, aggregated metrics) from a
thread of its own after that; so the readout waits for the bus to drain
and then for each execution's final record.  A job that did not succeed,
a stage that is neither complete nor skipped, a job missing from the SQL
store or an execution that never settles counts as a readout error.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "PiB": 2**50, "EiB": 2**60}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_TRACERS = itertools.count()  # job groups stay unique across tracers
SETTLE_S = 10.0  # longest wait for an execution's final SQL record


def parse_metric(text: str) -> float:
    """Spark SQL metric string -> number: bytes for sizes, seconds for
    times, the plain count otherwise.  Task-distribution strings
    ("total (min, med, max ...)\\n<total> (<min>, ...)") yield the total."""
    if text.startswith("total ("):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    if unit:
        raise ValueError(f"unknown unit in SQL metric {text!r}")
    return num


class Tracer:
    """Span recorder.  A span is (name, start, end, parent, op); entering
    one sets the Spark job group ``pb<tracer>.<span id>`` and leaving it
    restores the parent's, so each job lands in its innermost span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._prefix = f"pb{next(_TRACERS)}."
        self.op = None

    def group(self, sid: int) -> str:
        return f"{self._prefix}{sid}"

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), f"{self.op}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(self.group(parent),
                                    f"{self.op}:{self.spans[parent]['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
               for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f)


class Readout:
    """Per-span Spark metrics from the status tracker, stage store and
    SQL store, read after the spans' jobs have finished.  ``errors``
    lists every job, stage or execution the stores could not account for."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.bus = self.sc._jsc.sc().listenerBus()
        self.tracker = self.sc.statusTracker()
        self.stages = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._sql_seen = int(self.sql.executionsCount())
        self.errors: list[str] = []

    def _jobs(self, group: str) -> tuple[list[int], list[int]]:
        """The group's job ids and the ids of their stages."""
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None or info.status != "SUCCEEDED":
                self.errors.append(f"job {j}: status {info and info.status}")
            if info is not None:
                stage_ids.update(int(x) for x in info.stageIds)
        return jobs, sorted(stage_ids)

    def _stage(self, sid: int) -> dict | None:
        """The stage's last attempt if complete, None if skipped."""
        try:
            st = self.stages.lastStageAttempt(sid)
        except Py4JJavaError:
            self.errors.append(f"stage {sid}: not in the stage store")
            return None
        status = str(st.status().toString())
        if status == "SKIPPED":
            return None
        if status != "COMPLETE":
            self.errors.append(f"stage {sid}: status {status}")
            return None
        return {
            "id": sid, "attempt": st.attemptId(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "tasks": st.numTasks(),
            "shuffle_write": st.shuffleWriteBytes(),
            "shuffle_read": st.shuffleReadBytes(),
            "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.stages.taskSummary(stage["id"], stage["attempt"], q)
        if summ.isEmpty():
            return 1.0
        runs = summ.get().executorRunTime()
        med, mx = runs.apply(0), runs.apply(1)
        return mx / med if med > 0 else 1.0

    def _settled(self, eid: int):
        """The execution's final record (end time and aggregated metric
        values both set), polled for up to SETTLE_S seconds; None if it
        does not appear."""
        deadline = time.monotonic() + SETTLE_S
        while True:
            opt = self.sql.execution(eid)
            if opt.isDefined():
                ex = opt.get()
                if not ex.completionTime().isEmpty() and ex.metricValues() is not None:
                    return ex
            if time.monotonic() >= deadline:
                return None
            time.sleep(0.005)

    def _executions(self) -> list[dict]:
        """SQL executions finished since the previous call, each with
        its job ids and plan nodes (id, name, desc, parsed metrics and
        the id of the node feeding it)."""
        n = int(self.sql.executionsCount())
        if n <= self._sql_seen:
            return []
        seq = self.sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        out = []
        for i in range(seq.size()):
            eid = seq.apply(i).executionId()
            ex = self._settled(eid)
            if ex is None:
                self.errors.append(f"SQL execution {eid}: no final record "
                                   f"within {SETTLE_S} s")
                continue
            jobs = [int(j) for j in self._conv.asJava(ex.jobs()).keySet()]
            values = dict(self._conv.asJava(ex.metricValues()))
            graph = self.sql.planGraph(eid)
            nodes = []
            edges = graph.edges()
            child_of = {}
            for k in range(edges.size()):
                e = edges.apply(k)
                child_of.setdefault(e.toId(), e.fromId())
            all_nodes = graph.allNodes()
            for k in range(all_nodes.size()):
                node = all_nodes.apply(k)
                mets = {}
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    raw = values.get(m.accumulatorId())
                    if raw is not None:
                        mets[m.name()] = parse_metric(raw)
                nodes.append({"id": node.id(), "name": node.name(),
                              "desc": node.desc(), "metrics": mets,
                              "child": child_of.get(node.id())})
            out.append({"id": eid, "jobs": jobs, "nodes": nodes})
        return out

    def collect(self, spans: list[dict], group) -> dict[int, dict]:
        """{span id: {"jobs", "stages", "nodes"}} for ``spans``;
        "nodes" holds one node list per SQL execution."""
        self.bus.waitUntilEmpty()
        by_span = {}
        job_span = {}
        for s in spans:
            jobs, stage_ids = self._jobs(group(s["id"]))
            stages = [st for x in stage_ids if (st := self._stage(x)) is not None]
            by_span[s["id"]] = {"jobs": jobs, "stages": stages, "nodes": []}
            for j in jobs:
                job_span[j] = s["id"]
        unseen = set(job_span)
        for ex in self._executions():
            unseen -= set(ex["jobs"])
            owner = next((job_span[j] for j in ex["jobs"] if j in job_span), None)
            if owner is not None:
                by_span[owner]["nodes"].append(ex["nodes"])
        self.errors.extend(f"job {j}: in no SQL execution" for j in sorted(unseen))
        return by_span

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MiB they hold in memory and on disk)."""
        n = len(self.sc._jsc.getPersistentRDDs())
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum((r.memSize() + r.diskSize()) for r in infos) / 2**20
        return n, mb
