"""Measurement helpers that run beside the program under test: the
process-tree RSS sampler, the code-independent load sentinel, and the
Spark event-log reader that turns one traced session into per-layer
metrics.

Nothing here imports the package under test.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1 << 20

# per-query values that are peaks, combined by max rather than summed
PEAKS = ("task_skew", "peak_heap_mb")

# Spark 4.1 PythonSQLMetrics display names -> per-layer metric suffix
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_recv_mb",
}


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (this Python
    process, the JVM it launched, and the JVM's Python workers)."""
    children = defaultdict(list)
    rss = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        pid = int(name)
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(pid)
        rss[pid] = pages * _PAGE
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS every ``INTERVAL_S`` seconds while
    active; ``peak_mb`` is the largest sum seen."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(root))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / MB


def load_sentinel() -> float:
    """Seconds for a fixed pure-Python hashing loop. It shares no code
    with the program, so a reading well above the box's usual value
    marks a run taken under outside load."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc ^= hash((i, acc & 0xFFFF))
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat.
    The steal share over a window is the CPU time the hypervisor gave
    to other guests: a load sign no code change can move."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _metric_types(plan, out):
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _metric_types(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the (single) application log in
    ``log_dir``, plus the SQL accumulator id -> metric type map."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs, stages, tasks, acc_types = {}, {}, [], {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "id": info["Stage ID"],
                    "start": info.get("Submission Time"),
                    "end": info.get("Completion Time"),
                }
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _metric_types(ev.get("sparkPlanInfo", {}), acc_types)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", ()):
                    acc_types[m["accumulatorId"]] = m["metricType"]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "acc_types": acc_types}


def _metric_value(update, mtype: str) -> float:
    """An SQL metric update in seconds or MB, by its metric type."""
    scale = {"nsTiming": 1e9, "timing": 1e3, "size": MB}.get(mtype, 1)
    return float(update) / scale


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def layer_metrics(log: dict, passes: list[list[dict]]) -> tuple[dict, dict]:
    """Per-layer metrics for the traced warm passes.

    ``passes`` holds, per warm pass, one record per query with the job
    groups used for its builder call and its noop write and their wall
    intervals (epoch seconds). Each metric is summed over a pass and
    the median over passes is reported. Returns (metrics, per-query
    breakdown of the last pass)."""
    group_of_stage = {}
    jobs_by_group = defaultdict(list)
    for jid, job in log["jobs"].items():
        jobs_by_group[job["group"]].append(jid)
        for sid in job["stages"]:
            group_of_stage.setdefault(sid, job["group"])  # a stage runs in its first job
    tasks_by_group = defaultdict(list)
    for t in log["tasks"]:
        tasks_by_group[group_of_stage.get(t["Stage ID"])].append(t)
    stages_by_group = defaultdict(list)
    for st in log["stages"].values():
        if st["start"] and st["end"]:
            stages_by_group[group_of_stage.get(st["id"])].append(st)

    per_pass = []
    breakdown = {}
    for records in passes:
        acc = defaultdict(float)
        for rec in records:
            q = defaultdict(float)
            q["build_s"] = rec["build_s"]
            q["exec_s"] = rec["exec_s"]
            q["build_jobs"] = len(jobs_by_group[rec["build_group"]])
            q["exec_jobs"] = len(jobs_by_group[rec["exec_group"]])
            ex_stages = stages_by_group[rec["exec_group"]]
            q["exec_stages"] = len(ex_stages)
            spans = [
                (s["start"] / 1e3, s["end"] / 1e3)
                for g in (rec["build_group"], rec["exec_group"])
                for s in stages_by_group[g]
            ]
            q["driver_gap_s"] = (rec["t1"] - rec["t0"]) - _covered(spans, rec["t0"], rec["t1"])
            skew = 1.0
            by_stage = defaultdict(list)
            for g in (rec["build_group"], rec["exec_group"]):
                for t in tasks_by_group[g]:
                    _add_task(q, t, log["acc_types"])
                    info = t["Task Info"]
                    by_stage[t["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            for durs in by_stage.values():
                med = statistics.median(durs)
                if len(durs) > 1 and med > 0:
                    skew = max(skew, max(durs) / med)
            q["task_skew"] = skew
            breakdown[rec["query"]] = dict(q)
            for k, v in q.items():
                acc[k] = max(acc[k], v) if k in PEAKS else acc[k] + v
        per_pass.append(acc)

    def med(key):
        return statistics.median(p.get(key, 0.0) for p in per_pass)

    out = {
        "queries.build_s": med("build_s"),
        "queries.build_jobs": med("build_jobs"),
        "exec.run_s": med("exec_s"),
        "exec.jobs": med("exec_jobs"),
        "exec.stages": med("exec_stages"),
        "exec.tasks": med("tasks"),
        "exec.sched_delay_s": med("sched_delay_s"),
        "exec.driver_gap_s": med("driver_gap_s"),
        "exec.executor_run_s": med("executor_run_s"),
        "exec.executor_cpu_s": med("executor_cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.shuffle_read_mb": med("shuffle_read_mb"),
        "exec.shuffle_write_mb": med("shuffle_write_mb"),
        "exec.spill_mb": med("spill_mb"),
        "exec.task_skew": med("task_skew"),
        "exec.peak_heap_mb": med("peak_heap_mb"),
    }
    for suffix in PYTHON_METRICS.values():
        out[f"operators.grouped.{suffix}"] = med(suffix)
    return out, breakdown


def _add_task(q, t, acc_types):
    info, m = t["Task Info"], t.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    busy_ms = (
        run_ms + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    q["tasks"] += 1
    q["sched_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy_ms) / 1e3
    q["executor_run_s"] += run_ms / 1e3
    q["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    q["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    q["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    sw = m.get("Shuffle Write Metrics") or {}
    q["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    q["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    # the JVM's peak heap while the task ran; in local mode the driver
    # is the executor, so this is the whole program's heap
    heap = (t.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0) / MB
    q["peak_heap_mb"] = max(q["peak_heap_mb"], heap)
    for a in info.get("Accumulables", ()):
        suffix = PYTHON_METRICS.get(a.get("Name"))
        if suffix and "Update" in a:
            q[suffix] += _metric_value(a["Update"], acc_types.get(a["ID"], ""))
