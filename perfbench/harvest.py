"""Per-layer metrics read from Spark itself, for the traced run.

- ``SparkHarvest`` reads the app status store (jobs, stages, task
  metrics) and the SQL status store (the Python-worker metrics of
  Arrow-backed plan nodes) for everything that ran after a ``mark()``.
  Marks are job and SQL execution ids, so work started from threads
  the benchmark does not own (streaming micro-batches run under the
  stream's own job group) is still attributed to the phase it ran in.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's ``durationMs`` phases and state-operator figures.
- ``peak_rss_mb`` and ``pinned_bytes`` read process and block-manager
  memory.

All readers call into the JVM through py4j and are meant to run
outside timed regions.
"""

from __future__ import annotations

import re
from typing import Dict, List, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Mark(NamedTuple):
    next_job: int
    next_execution: int


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)")

# SQL metric name -> (metric key, kind) for the JVM<->Python boundary
PYTHON_WORKER_METRICS = {
    "data sent to Python workers": ("arrow.sent_bytes", "size"),
    "data returned from Python workers": ("arrow.returned_bytes", "size"),
    "time to run Python workers": ("arrow.python_run_s", "time"),
    "time to start Python workers": ("arrow.worker_start_s", "time"),
}

STAGE_METRICS = (
    "action.stages",
    "action.tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "scan.input_bytes",
    "scan.input_rows",
)


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of a formatted SQL metric: ``'12.3 KiB'``, ``'0 ms'`` or the
    multi-task form ``'total (min, med, max ...)\\n1.2 s (...)'``."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    num, unit = float(m.group(1)), m.group(2)
    scale = _SIZE if kind == "size" else _TIME_S
    return num * scale[unit]


class SparkHarvest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event,
        so the stores (and Python listeners) have seen finished work."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        self.drain()
        execs = self._sql.executionsList()
        n = execs.size()
        last_exec = execs.apply(n - 1).executionId() if n else -1
        # py4j hands the AtomicInteger back as its int value
        return Mark(int(self._sc.dagScheduler().nextJobId()), last_exec + 1)

    def _jobs(self, since: Mark, until: Mark):
        for jid in range(since.next_job, until.next_job):
            try:
                yield self._store.job(jid)
            except Py4JJavaError:  # evicted from the store (retainedJobs)
                continue

    def spark_metrics(self, since: Mark, until: Mark) -> Dict[str, float]:
        """Jobs, stages, tasks and stage task metrics of every job, plus
        the Python-worker SQL metrics of every SQL execution, started
        between two marks."""
        out = {k: 0.0 for k in STAGE_METRICS}
        out["action.jobs"] = 0
        seen = set()
        empty = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for job in self._jobs(since, until):
            out["action.jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._store.stageData(sid, False, empty, False, no_quantiles)
                except Py4JJavaError:  # evicted (retainedStages)
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: reused shuffle output
                    out["action.stages"] += 1
                    out["action.tasks"] += st.numCompleteTasks()
                    out["executor.run_s"] += st.executorRunTime() / 1e3
                    out["executor.cpu_s"] += st.executorCpuTime() / 1e9
                    out["executor.gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle.read_bytes"] += st.shuffleReadBytes()
                    out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                    out["shuffle.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["scan.input_bytes"] += st.inputBytes()
                    out["scan.input_rows"] += st.inputRecords()
        out.update(self.python_worker_metrics(since, until))
        return out

    def python_worker_metrics(self, since: Mark, until: Mark) -> Dict[str, float]:
        out = {key: 0.0 for key, _ in PYTHON_WORKER_METRICS.values()}
        for eid in range(since.next_execution, until.next_execution):
            ex = self._sql.execution(eid)
            if ex.isEmpty():
                continue
            plan_metrics = ex.get().metrics()
            wanted = {}
            for i in range(plan_metrics.size()):
                pm = plan_metrics.apply(i)
                if pm.name() in PYTHON_WORKER_METRICS:
                    wanted[pm.accumulatorId()] = PYTHON_WORKER_METRICS[pm.name()]
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, (key, kind) in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get(), kind)
        return out

    def pinned_bytes(self) -> int:
        """Bytes held by persisted RDDs (pins are localCheckpoints)."""
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def jvm_pid(self) -> int:
        return self._gw.jvm.java.lang.ProcessHandle.current().pid()


STREAM_PHASES = {
    "addBatch": "stream.add_batch_ms",
    "getBatch": "stream.get_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "triggerExecution": "stream.trigger_ms",
}


class StreamProgress(StreamingQueryListener):
    """Keeps one record per micro-batch progress event."""

    def __init__(self):
        self.batches: List[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "run": str(p.runId),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "state_mem": sum(o.memoryUsedBytes for o in p.stateOperators),
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def summarize(self, since: int) -> Dict[str, float]:
        """Totals over the batches recorded after index ``since``; state
        figures are each query's last batch (state size at the end)."""
        batches = self.batches[since:]
        out = {k: 0.0 for k in STREAM_PHASES.values()}
        out.update({"stream.batches": len(batches), "stream.input_rows": 0, "stream.state_commit_ms": 0.0})
        last_state = {}
        for b in batches:
            out["stream.input_rows"] += b["rows"]
            for phase, key in STREAM_PHASES.items():
                out[key] += b["ms"].get(phase, 0)
            out["stream.state_commit_ms"] += b["state_commit_ms"]
            last_state[b["run"]] = (b["state_rows"], b["state_mem"])
        out["stream.state_rows"] = sum(r for r, _ in last_state.values())
        out["stream.state_mem_bytes"] = sum(m for _, m in last_state.values())
        return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the given pids."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
