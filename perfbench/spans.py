"""Per-execution spans and counters, read from outside the engine.

The benchmark wraps each call into a layer's public function in a
span and, after the execution, reads Spark's own bookkeeping:

- the status store (``SparkContext.statusStore``) for every job of the
  execution's job group, and every stage of those jobs;
- the SQL metrics of the Python exec nodes (``ArrowEvalPythonExec``,
  ``FlatMapGroupsInPandasExec``, ...) in the executed plan.

Span tree of one execution: ``query`` -> ``build`` / ``plan`` /
``action`` -> ``job`` -> ``stage``.  Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


@dataclass
class Span:
    id: int
    parent: int | None
    exec_id: int
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store.  Times are seconds on the benchmark's
    ``time.perf_counter`` clock; JVM timestamps (epoch milliseconds)
    are shifted onto it with ``epoch_offset``."""

    def __init__(self, epoch_offset: float):
        self.epoch_offset = epoch_offset
        self.spans: list[Span] = []
        self._ids = itertools.count()

    def add(self, parent, exec_id, name, start, end, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(Span(sid, parent, exec_id, name, start, end, attrs))
        return sid

    def from_epoch_ms(self, ms: int) -> float:
        return ms / 1000.0 - self.epoch_offset

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: a span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = covered_time(
                [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def covered_time(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Reads job, stage and plan counters of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.cores = self.sc.defaultParallelism

    def job_ids(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the execution's final task metrics."""
        self.bus.waitUntilEmpty()

    def jobs(self, job_ids, tracer: Tracer, parent: int, exec_id: int):
        """Summable counters over ``job_ids``, the jobs' intervals, and
        the task skew (max / median task run time) of their longest
        stage.  Adds a job span under ``parent`` and a stage span under
        each job."""
        c = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.stages_skipped",
             "spark.tasks", "spark.tasks_failed", "spark.executor_run_s",
             "spark.executor_cpu_s", "spark.gc_s", "shuffle.write_bytes",
             "shuffle.read_bytes", "shuffle.spill_bytes",
             "sources.input_bytes"), 0.0)
        intervals = []
        longest = (-1.0, None)
        for jid in sorted(job_ids):
            job = self.store.job(jid)
            c["spark.jobs"] += 1
            c["spark.tasks_failed"] += job.numFailedTasks()
            j0 = tracer.from_epoch_ms(job.submissionTime().get().getTime())
            j1 = tracer.from_epoch_ms(job.completionTime().get().getTime())
            intervals.append((j0, j1))
            jspan = tracer.add(parent, exec_id, "job", j0, j1, job_id=jid)
            sids = job.stageIds()
            for i in range(sids.size()):
                st = self.store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    c["spark.stages_skipped"] += 1
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numTasks()
                c["spark.executor_run_s"] += st.executorRunTime() / 1e3
                c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["spark.gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle.write_bytes"] += st.shuffleWriteBytes()
                c["shuffle.read_bytes"] += st.shuffleReadBytes()
                c["shuffle.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                c["sources.input_bytes"] += st.inputBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    s0 = tracer.from_epoch_ms(sub.get().getTime())
                    s1 = tracer.from_epoch_ms(done.get().getTime())
                    tracer.add(jspan, exec_id, "stage", s0, s1,
                               stage_id=st.stageId(), tasks=st.numTasks())
                    if s1 - s0 > longest[0]:
                        longest = (s1 - s0, st)
        return c, intervals, self._skew(longest[1])

    def _skew(self, stage) -> float:
        """max / median task run time of ``stage``."""
        if stage is None:
            return 1.0
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        return run.apply(1) / max(run.apply(0), 1.0)

    def python_nodes(self, df) -> dict:
        """Python exec nodes in the executed (final adaptive) plan and
        the bytes their Arrow streams carried."""
        out = {"python.exec_nodes": 0, "python.bytes_sent": 0,
               "python.bytes_received": 0}
        seen: set[int] = set()
        identity = self.sc._jvm.System.identityHashCode
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            h = identity(node)
            if h in seen:
                continue
            seen.add(h)
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            if any(m in cls for m in PYTHON_NODE_MARKERS):
                metrics = node.metrics()
                if metrics.contains("pythonDataSent"):
                    out["python.exec_nodes"] += 1
                    out["python.bytes_sent"] += metrics.apply("pythonDataSent").value()
                    out["python.bytes_received"] += metrics.apply(
                        "pythonDataReceived").value()
            for getter in ("children", "subqueries"):
                seq = getattr(node, getter)()
                stack.extend(seq.apply(i) for i in range(seq.size()))
        return out
