"""Measurement helpers: summary statistics, a process-tree memory sampler,
and the traced run's three sources of per-layer numbers -- job groups set
around each call, Spark's event log (read with stdlib ``json``), and a
``StreamingQueryListener`` registered by the benchmark."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "perfbench/"
PYTHON_NODES = ("Python", "Pandas", "MapInArrow")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summary(xs) -> dict:
    """Median plus the highest of p99/p90/p75 that has at least ten samples
    beyond it (``None`` when fewer than 40 samples support even p75); up to
    20 samples are listed as they are."""
    out = {"median": median(xs), "n": len(xs), "p_high": None, "p_high_value": None}
    if len(xs) <= 20:
        out["samples"] = list(xs)
    xs = sorted(xs)
    for p in (0.99, 0.9, 0.75):
        if len(xs) * (1 - p) >= 10:
            out["p_high"] = f"p{round(p * 100)}"
            out["p_high_value"] = percentile(xs, p)
            break
    return out


def percentile(xs, p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class RssSampler:
    """Samples the summed resident memory of this process and every
    descendant (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
            except (OSError, IndexError, ValueError):
                continue
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


class ProgressListener(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def progress_of(self, run_id: str) -> list[dict]:
        """Every record so far of one run of one query."""
        with self._lock:
            return [p for p in self.progress if p["runId"] == run_id]

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


def progress_time_s(p: dict) -> float:
    """Trigger start of a progress record, epoch seconds."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def streaming_layers(progress: list[dict]) -> dict:
    """Per-trigger costs from progress records of triggers that read data."""
    data = sorted((p for p in progress if p.get("numInputRows", 0) > 0), key=progress_time_s)
    dur = lambda p, *ks: sum(p.get("durationMs", {}).get(k, 0) for k in ks)  # noqa: E731
    trig = [dur(p, "triggerExecution") for p in data]
    gaps = []
    by_run: dict[str, list[dict]] = {}
    for p in data:
        by_run.setdefault(p["runId"], []).append(p)
    for runs in by_run.values():
        for a, b in zip(runs, runs[1:]):
            if b["batchId"] == a["batchId"] + 1:
                end_a = progress_time_s(a) + dur(a, "triggerExecution") / 1000
                gaps.append(max(0.0, (progress_time_s(b) - end_a) * 1000))
    states = [s for p in data for s in p.get("stateOperators", [])]
    return {
        "streaming.batches": len(data),
        "streaming.trigger_p50_ms": median(trig),
        "streaming.trigger_p99_ms": percentile(trig, 0.99),
        "streaming.planning_ms": median([dur(p, "queryPlanning") for p in data]),
        "streaming.add_batch_ms": median([dur(p, "addBatch") for p in data]),
        "streaming.commit_ms": median([dur(p, "walCommit", "commitOffsets") for p in data]),
        "streaming.offset_ms": median([dur(p, "latestOffset", "getBatch") for p in data]),
        "streaming.gap_ms": median(gaps),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in data]),
        "streaming.state_rows": max((s.get("numRowsTotal", 0) for s in states), default=0),
        "streaming.state_bytes": max((s.get("memoryUsedBytes", 0) for s in states), default=0),
        "streaming.state_commit_ms": median([s.get("commitTimeMs", 0) for s in states]),
    }


class Tracer:
    """Records a wall-clock span around each benchmark call and, when
    tracing, tags the jobs the call launches with a job group."""

    def __init__(self, spark=None):
        self.spark = spark  # None: spans only, no job groups
        self.spans: list[tuple[str, str, float, float]] = []

    @contextmanager
    def span(self, op: str, phase: str):
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}{op}/{phase}", f"{op} {phase}")
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((op, phase, t0, time.time()))
            if self.spark is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def owner(self, group: str | None, t_ms: float) -> tuple[str, str] | None:
        """The (op, phase) a job belongs to: its job group when the
        benchmark set one, else the span open at its submission time (jobs
        of streaming queries run under the query's own group)."""
        if group and group.startswith(GROUP_PREFIX):
            op, phase = group[len(GROUP_PREFIX):].rsplit("/", 1)
            return op, phase
        for op, phase, t0, t1 in self.spans:
            if t0 * 1000 <= t_ms <= t1 * 1000:
                return op, phase
        return None


def _plan_metrics(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _peak(peak: dict, executor_metrics: dict) -> None:
    """Fold polled executor memory (sampled only when
    ``spark.executor.metrics.pollingInterval`` is set) into ``peak``."""
    peak["peak_heap_bytes"] = max(peak["peak_heap_bytes"], executor_metrics.get("JVMHeapMemory", 0))
    peak["peak_storage_bytes"] = max(peak["peak_storage_bytes"], executor_metrics.get("OnHeapStorageMemory", 0))


def read_event_log(log_dir: str, app_id: str, tracer: Tracer) -> dict:
    """Workload totals and per-op execution numbers from an uncompressed,
    non-rolling event log."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: set[tuple[int, int]] = set()
    tasks: list[dict] = []
    sql_metric: dict[int, tuple[str, str, str]] = {}
    accum: dict[int, float] = {}
    peak = {"peak_heap_bytes": 0, "peak_storage_bytes": 0}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit_ms": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            elif kind == "SparkListenerStageExecutorMetrics":
                _peak(peak, ev["Executor Metrics"])
            elif kind == "SparkListenerTaskEnd":
                _peak(peak, ev.get("Task Executor Metrics") or {})
                tasks.append(ev)
                for a in ev["Task Info"].get("Accumulables", []):
                    if isinstance(a.get("Update"), (int, float, str)):
                        try:
                            accum[a["ID"]] = accum.get(a["ID"], 0.0) + float(a["Update"])
                        except ValueError:
                            pass
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev["sparkPlanInfo"], sql_metric)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in ev.get("accumUpdates", []):
                    accum[aid] = accum.get(aid, 0.0) + float(val)

    per_op: dict[str, dict] = {}
    job_owner = {jid: tracer.owner(j["group"], j["submit_ms"]) for jid, j in jobs.items()}
    for jid, owner in job_owner.items():
        if owner and owner[1] == "construct":
            per_op.setdefault(owner[0], {}).setdefault("construct_jobs", 0)
            per_op[owner[0]]["construct_jobs"] += 1
    tot = dict.fromkeys(
        ["tasks", "sched_delay_s", "task_deser_s", "task_run_s", "gc_s", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_rows"], 0.0
    )
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        deser_ms = m.get("Executor Deserialize Time", 0)
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        delay = max(0, duration - run_ms - deser_ms - m.get("Result Serialization Time", 0))
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        inp = m.get("Input Metrics") or {}
        tot["tasks"] += 1
        tot["sched_delay_s"] += delay / 1000
        tot["task_deser_s"] += deser_ms / 1000
        tot["task_run_s"] += run_ms / 1000
        tot["gc_s"] += m.get("JVM GC Time", 0) / 1000
        tot["shuffle_write_bytes"] += sw
        tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["input_bytes"] += inp.get("Bytes Read", 0)
        tot["input_rows"] += inp.get("Records Read", 0)
        owner = job_owner.get(stage_job.get(ev["Stage ID"]))
        if owner:
            op = per_op.setdefault(owner[0], {})
            op["tasks"] = op.get("tasks", 0) + 1
            op["task_s"] = op.get("task_s", 0.0) + run_ms / 1000
            op["shuffle_bytes"] = op.get("shuffle_bytes", 0) + sw

    py = {"python_rows": 0.0, "python_bytes": 0.0, "python_s": 0.0}
    for aid, (node, name, mtype) in sql_metric.items():
        if aid not in accum or not any(k in node for k in PYTHON_NODES):
            continue
        low = name.lower()
        if low == "number of output rows":
            py["python_rows"] += accum[aid]
        elif mtype == "size" and "python" in low:
            py["python_bytes"] += accum[aid]
        elif mtype in ("timing", "nsTiming"):
            py["python_s"] += accum[aid] / (1e3 if mtype == "timing" else 1e9)
    totals = {f"exec.{k}": v for k, v in tot.items()}
    totals.update({f"exec.{k}": v for k, v in py.items()})
    totals.update({f"exec.{k}": v for k, v in peak.items()})
    totals["exec.jobs"] = len(jobs)
    totals["exec.stages"] = len(stages)
    return {"totals": totals, "per_op": per_op}
