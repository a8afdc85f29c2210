"""Traced-run observers. Everything here reads the engine from outside:
Spark's job/stage status store, its SQL status store, streaming progress
events and /proc. Nothing is imported from the engine's modules.

One ``Tracer`` per process. ``begin``/``end`` bracket one benchmark
query; ``end`` drains Spark's listener bus, turns every job and
micro-batch the query caused into a span and adds the query's counters
to the current pass.
"""

from __future__ import annotations

import datetime
import os
import re
import statistics
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import stats

RSS_PERIOD_S = 0.5

# SQL metric display names (Spark 4.1) -> per-layer counter
PYTHON_METRICS = {
    "time to start Python workers": "functions.python_boot_ms",
    "time to run Python workers": "functions.python_total_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
}
PYTHON_ROWS, PYTHON_ROWS_KEY = "number of output rows", "functions.python_rows_returned"
# one entry of a Scala ``SQLPlanMetric`` list's toString: name, accumulator id
_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)")

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def parse_metric(text: str) -> float:
    """Total of a SQL metric as the status store formats it: either
    ``'1,234'``, ``'60.0 KiB'``, ``'469 ms'`` or
    ``'total (min, med, max ...)\\n3.3 s (...)'``. Sizes come back in
    bytes, times in milliseconds."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _displayed(values, acc_id: str) -> float:
    """A metric's total from the SQL status store's ``{accumulator id:
    display string}`` map; 0 when the execution never set it."""
    text = values.get(int(acc_id))
    return parse_metric(text.get()) if text.isDefined() else 0.0


class _StreamEvents(StreamingQueryListener):
    """Maps each stream run to the benchmark query that started it and
    keeps its progress events. ``onQueryStarted`` runs synchronously in
    the thread that starts the stream, so the attribution is exact."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.stream_runs[str(event.runId)] = self.tracer.current

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.progress.setdefault(str(p.runId), []).append({
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state": [(s.commitTimeMs, s.numRowsTotal) for s in p.stateOperators],
        })

    def onQueryTerminated(self, event):
        pass


class RssSampler(threading.Thread):
    """Peak summed resident memory of a process and all its descendants
    (driver Python, the JVM, Python workers), sampled every ``RSS_PERIOD_S``."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root, self.peak_kb = root_pid, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent, rss = {}, {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            parent[int(pid)] = int(fields.get("PPid", "0"))
            rss[int(pid)] = int(fields.get("VmRSS", "0 kB").split()[0])
        total, frontier = rss.get(root, 0), [root]
        while frontier:
            p = frontier.pop()
            for child, par in parent.items():
                if par == p:
                    total += rss.get(child, 0)
                    frontier.append(child)
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(self.root))
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.seq = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.spans: list[dict] = []
        self.pass_no = None
        self.current = None
        self.stream_runs: dict[str, object] = {}
        self.progress: dict[str, list] = {}
        self.next_execution = self._first_free_execution(0)
        self.pass_totals: dict[str, float] = {}
        self.pass_triggers: list[float] = []
        self.listener = _StreamEvents(self)

    def attach(self, pass_no: int):
        """Start a traced pass: listen to streams, reset the pass totals."""
        self.pass_no, self.pass_totals, self.pass_triggers = pass_no, {}, []
        self.spark.streams.addListener(self.listener)

    def detach(self) -> dict[str, float]:
        """End a traced pass; return its per-layer totals, including the
        self time of each span kind."""
        self.spark.streams.removeListener(self.listener)
        spans = [sp for sp in self.spans if sp["pass"] == self.pass_no]
        for sid, t in stats.self_times(spans).items():
            self._add(f"{self.spans[sid - 1]['name']}_self_s", t)
        return self.pass_metrics()

    # -- spans -------------------------------------------------------
    def span(self, name, qid, parent, start, end, **attrs) -> int:
        sid = len(self.spans) + 1
        self.spans.append({"id": sid, "name": name, "pass": self.pass_no, "query": qid,
                           "parent": parent, "start": start, "end": end, **attrs})
        return sid

    def _add(self, key, value):
        self.pass_totals[key] = self.pass_totals.get(key, 0.0) + value

    def pass_metrics(self) -> dict[str, float]:
        out = dict(self.pass_totals)
        out["streaming.trigger_ms_p50"] = (
            statistics.median(self.pass_triggers) if self.pass_triggers else 0.0)
        run, cpu = out.get("operators.executor_run_s", 0.0), out.get("operators.executor_cpu_s", 0.0)
        out["operators.cpu_ratio"] = cpu / run if run else 0.0
        return out

    # -- one query ---------------------------------------------------
    def begin(self, qid):
        self.current = qid
        self.next_execution = self._first_free_execution(self.next_execution)
        self.sc.setJobGroup(f"perfbench-{qid}", str(qid))

    def end(self, qid, query_span, phase_spans):
        """``phase_spans``: ``{"queries.build": id, ...}`` of this query."""
        self.sc._jsc.clearJobGroup()
        self.jsc.listenerBus().waitUntilEmpty()
        self.current = None
        by_id = {sp["id"]: sp for sp in self.spans[query_span - 1:]}
        qsp = by_id[query_span]
        runs = [r for r, q in self.stream_runs.items() if q == qid]

        # micro-batches, children of the registry call that ran the stream
        batch_spans: dict[str, list] = {}
        build = phase_spans["queries.build"]
        for run in runs:
            events = self.progress.pop(run, [])
            for ev in events:
                start = datetime.datetime.fromisoformat(
                    ev["timestamp"].replace("Z", "+00:00")).timestamp()
                dm = ev["duration_ms"]
                trig = dm.get("triggerExecution", 0)
                sid = self.span("streaming.batch", qid, build, start, start + trig / 1e3,
                                batch=ev["batch"], run=run)
                batch_spans.setdefault(run, []).append(self.spans[sid - 1])
                self.pass_triggers.append(float(trig))
                self._add("streaming.batches", 1)
                self._add("streaming.add_batch_ms", dm.get("addBatch", 0))
                self._add("streaming.query_planning_ms", dm.get("queryPlanning", 0))
                self._add("streaming.offset_commit_ms",
                          dm.get("walCommit", 0) + dm.get("commitOffsets", 0))
                self._add("streaming.state_commit_ms", sum(c for c, _ in ev["state"]))
                self._add("streaming.input_rows", ev["input_rows"])
            if events:
                self._add("streaming.state_rows", sum(r for _, r in events[-1]["state"]))

        # Spark jobs: this query's job group plus the groups of its streams
        groups = [(f"perfbench-{qid}", None)] + [(r, r) for r in runs]
        job_iv = []
        for group, run in groups:
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                job = self.store.job(jid)
                if job.submissionTime().isEmpty() or job.completionTime().isEmpty():
                    continue
                s = job.submissionTime().get().getTime() / 1e3
                e = job.completionTime().get().getTime() / 1e3
                job_iv.append((s, e))
                parent = self._parent_for(s, run, batch_spans, phase_spans, by_id, query_span)
                self.span("operators.job", qid, parent, s, e, job=jid)
                self._add("operators.jobs", 1)
                if run is None and parent == build:
                    self._add("session.checkpoint_jobs", 1)
                    self._add("session.checkpoint_s", e - s)
                self._stage_counters(job)
        self._add("plans.driver_gap_s",
                  (qsp["end"] - qsp["start"]) - stats.covered(job_iv, qsp["start"], qsp["end"]))
        for key, sid in phase_spans.items():
            sp = by_id[sid]
            self._add(f"{key}_s", sp["end"] - sp["start"])
        self._sql_counters()

    def _parent_for(self, t, run, batch_spans, phase_spans, by_id, query_span):
        if run is not None:
            for sp in batch_spans.get(run, []):
                if sp["start"] <= t <= sp["end"]:
                    return sp["id"]
            return phase_spans["queries.build"]
        for sid in phase_spans.values():
            if by_id[sid]["start"] <= t <= by_id[sid]["end"]:
                return sid
        return query_span

    def _stage_counters(self, job):
        for sid in self.seq.asJava(job.stageIds()):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # no attempt recorded: the stage never ran
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            self._add("operators.stages", 1)
            self._add("operators.tasks", sd.numCompleteTasks())
            self._add("sources.scan_bytes", sd.inputBytes())
            self._add("operators.executor_run_s", sd.executorRunTime() / 1e3)
            self._add("operators.executor_cpu_s", sd.executorCpuTime() / 1e9)
            self._add("operators.gc_s", sd.jvmGcTime() / 1e3)
            self._add("operators.shuffle_read_bytes", sd.shuffleReadBytes())
            self._add("operators.shuffle_write_bytes", sd.shuffleWriteBytes())
            self._add("operators.spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled())

    def _first_free_execution(self, start: int) -> int:
        eid = start
        while self.sql_store.execution(eid).isDefined():
            eid += 1
        return eid

    def _sql_counters(self):
        """Python-worker metrics of every SQL execution started since the
        previous query, as the SQL status store displays them. Metric
        lists are read as one string each, to keep py4j calls few."""
        end = self._first_free_execution(self.next_execution)
        for eid in range(self.next_execution, end):
            listed = self.sql_store.execution(eid).get().metrics().toString()
            if not any(label in listed for label in PYTHON_METRICS):
                continue
            values = self.sql_store.executionMetrics(eid)
            for node in self.seq.asJava(self.sql_store.planGraph(eid).allNodes()):
                ids = dict(_METRIC.findall(node.metrics().toString()))  # name -> id
                got = {key: _displayed(values, ids[label])
                       for label, key in PYTHON_METRICS.items() if label in ids}
                # stateful operators carry the Python metrics too, unused:
                # their output rows are not rows returned by Python workers
                if not any(got.values()):
                    continue
                if PYTHON_ROWS in ids:
                    got[PYTHON_ROWS_KEY] = _displayed(values, ids[PYTHON_ROWS])
                for key, value in got.items():
                    self._add(key, value)
        self.next_execution = end
