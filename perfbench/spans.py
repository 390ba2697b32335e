"""Spans around the benchmark's calls into engine layers, with Spark's own
counters attached to each span.

A span records name, start, end, parent and request id.  Each span runs
its Spark work under a job group of its own, so after it closes the
benchmark reads, from outside the engine:

* the stage counters of the group's jobs from the status tracker and the
  application status store (`sc.statusStore()`);
* the SQL metrics of the plans it materialized, by walking the executed
  plan down through `AdaptiveSparkPlan` and each `QueryStage.plan()`;
* the SQL status store's row counts for executions the engine started
  inside a call (kNN rounds, checkpoint writes), whose plans the caller
  never holds.

Spans stay in memory until `dump` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = {
    # status-store StageData getter -> counter name
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_records",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


@dataclass
class Span:
    name: str
    request: int
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    stages: dict = field(default_factory=dict)  # summed STAGE_FIELDS counters
    plan_s: float = 0.0  # Catalyst analysis + optimization + planning
    nodes: list = field(default_factory=list)  # [name, description, {metric: value}]
    sql_rows: dict = field(default_factory=dict)  # node name -> output rows
    extra: dict = field(default_factory=dict)  # counters the workload adds

    @property
    def dur(self) -> float:
        return self.end - self.start

    def node_metric(self, node: str, metric: str, where: str | None = None) -> float:
        """Sum of `metric` over executed-plan nodes named `node` (and whose
        description contains `where`)."""
        return sum(
            m.get(metric, 0)
            for n, desc, m in self.nodes
            if n.strip() == node and (where is None or where in desc)
        )


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._executed: list = []  # QueryExecutions the open span collected

    @contextmanager
    def span(self, name: str, request: int):
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, request, parent, time.perf_counter())
        sp.group = f"perfbench/{request}/{name}/{len(self.spans)}"
        self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
        self._read_status(sp)

    def collect(self, df):
        """Materialize `df` inside the open span; its plan metrics are read
        when the span closes, outside the span's time."""
        rows = df.collect()
        self._executed.append(df._jdf.queryExecution())
        return rows

    def _read_status(self, sp: Span) -> None:
        for qe in self._executed:
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                sp.plan_s += it.next()._2().durationMs() / 1000.0
            _walk(qe.executedPlan(), sp.nodes)
        self._executed = []
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_ids = set(tracker.getJobIdsForGroup(sp.group))
        sp.jobs = len(job_ids)
        for jid in job_ids:
            for sid in tracker.getJobInfo(jid).stageIds:
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                sp.tasks += sd.numTasks()
                for getter, key in STAGE_FIELDS.items():
                    sp.stages[key] = sp.stages.get(key, 0) + getattr(sd, getter)()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = set()
            it = ex.jobs().keysIterator()
            while it.hasNext():
                ex_jobs.add(int(it.next()))
            if not ex_jobs or not ex_jobs <= job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                mets = node.metrics()
                for m in range(mets.size()):
                    met = mets.apply(m)
                    if met.name() != "number of output rows":
                        continue
                    v = values.get(met.accumulatorId())
                    if v.isDefined():
                        rows = int(str(v.get()).replace(",", ""))
                        sp.sql_rows[node.name()] = sp.sql_rows.get(node.name(), 0) + rows

    def dump(self, path, meta: dict) -> None:
        spans = []
        for sp in self.spans:
            d = asdict(sp)
            d["dur"] = sp.dur
            spans.append(d)
        path.write_text(json.dumps({"meta": meta, "spans": spans}, indent=1))


def _walk(plan, out: list) -> None:
    """Append [nodeName, description, metrics] for every node of an
    executed plan, descending adaptive plans and query stages."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(plan.executedPlan(), out)
        return
    if cls.endswith("QueryStageExec"):
        _walk(plan.plan(), out)
        return
    metrics = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    out.append([plan.nodeName(), plan.simpleString(50), metrics])
    for seq in (plan.children(), plan.subqueries()):
        for i in range(seq.size()):
            _walk(seq.apply(i), out)


def self_time(sp: Span, inputs: list[Span]) -> float:
    """A layer's self time: its span minus the spans of the input layers
    its materialization re-executes (Spark fuses a layer with its inputs,
    so the input work replays inside the layer's span)."""
    return max(0.0, sp.dur - sum(s.dur for s in inputs))


ARROW_NODES = ("MapInPandas", "ArrowEvalPython")
ARROW_METRICS = {
    # executed-plan metric -> (layer metric, scale to its unit)
    "pythonBootTime": ("arrow.boot_s", 1e-3),
    "pythonInitTime": ("arrow.init_s", 1e-3),
    "pythonTotalTime": ("arrow.total_s", 1e-3),
    "pythonDataSent": ("arrow.bytes_sent", 1),
    "pythonDataReceived": ("arrow.bytes_received", 1),
    "pythonNumRowsReceived": ("arrow.rows_received", 1),
}


COMMON_LAYERS = ("session", "sources", "arrow", "spark")


def common_layers(ops: list[Span], slots: int) -> dict:
    """The metrics of COMMON_LAYERS, which every workload calls, from the
    spans of one cycle's operations."""

    def total(key):
        return sum(s.stages.get(key, 0) for s in ops)

    run_s = total("run_ms") / 1000.0
    out = {
        "session.plan_s": sum(s.plan_s for s in ops),
        "session.jobs": sum(s.jobs for s in ops),
        "session.tasks": sum(s.tasks for s in ops),
        "session.slot_idle_frac": 1.0 - run_s / (slots * sum(s.dur for s in ops)),
        "sources.scan_s": sum(s.node_metric("Scan parquet", "scanTime") for s in ops) / 1000.0,
        "sources.input_bytes": total("input_bytes"),
        "sources.input_rows": total("input_rows"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1000.0,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_records": total("shuffle_records"),
        "spark.spill_bytes": total("spill_bytes"),
    }
    for key, (name, scale) in ARROW_METRICS.items():
        out[name] = scale * sum(s.node_metric(n, key) for s in ops for n in ARROW_NODES)
    return out


def is_timing(name: str) -> bool:
    return name.endswith("_s") or name == "session.slot_idle_frac"


def combine(per_cycle: list[dict]) -> dict:
    """One value per metric: the median over cycles for timings, the
    first cycle's value for counts (which later cycles repeat, or — with
    other inputs — differ from deterministically)."""
    return {
        name: statistics.median(c[name] for c in per_cycle) if is_timing(name) else per_cycle[0][name]
        for name in per_cycle[0]
    }
