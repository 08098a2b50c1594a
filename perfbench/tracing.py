"""Tracing for the benchmark's traced run, all from outside the package.

* :class:`ProcSampler` samples the process tree through ``/proc``: summed
  RSS (for ``mem.peak_rss_mb``) and the CPU of Python worker processes;
  :func:`descendants` lists that tree so a run can end all of it.
* :class:`Spans` keeps spans in memory (name, layer, start, end, parent,
  op id) and writes them out at the end with each layer's self time.
* :func:`parse_event_log` reads Spark's own event log: jobs tagged with
  the op's job group, stages, tasks and SQL plan metrics.
* :func:`layer_metrics` turns those into the per-layer metrics named in
  ``BENCHMARK.json``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------ /proc sampler

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict:
    """pid -> (ppid, rss_bytes, cpu_ticks, start_ticks) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(f[1]), int(f[21]) * _PAGE, int(f[11]) + int(f[12]), int(f[19]))
    return out


def descendants(root: int | None = None) -> dict:
    """pid -> start ticks of every live (not zombie) process below ``root``
    (this process by default)."""
    table = _proc_table()
    kids: dict = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = {}, list(kids.get(os.getpid() if root is None else root, ()))
    while todo:
        p = todo.pop()
        if alive(p, table[p][3]):
            out[p] = table[p][3]
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int, start: int) -> bool:
    """Whether ``pid`` is still the process that started at ``start`` and
    has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return f[0] != "Z" and int(f[19]) == start


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "worker"
    return "java" if cmd.split(b"\0", 1)[0].endswith(b"java") else "other"


class ProcSampler:
    """Background sampler of this process and all its descendants.

    Children the JVM spawns other than the Python workers are left out:
    they are short-lived shell commands whose RSS, read before their
    exec, is the JVM's own and would count it twice."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss = self.peak_jvm_rss = 0
        self._worker_cpu: dict = {}  # (pid, start) -> max cpu ticks seen
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        table = _proc_table()
        kids: dict = {}
        for pid, row in table.items():
            kids.setdefault(row[0], []).append(pid)
        # kinds are read afresh: spark-submit execs into the JVM in place
        tree, todo = [], [(os.getpid(), "other")]
        while todo:
            p, kind = todo.pop()
            tree.append((p, kind))
            for c in kids.get(p, ()):
                ck = _kind(c)
                if kind != "java" or ck == "worker":
                    todo.append((c, ck))
        rss = sum(table[p][1] for p, _ in tree)
        with self._lock:
            if rss > self.peak_rss:
                # the JVM's share at the peak
                self.peak_rss = rss
                self.peak_jvm_rss = sum(table[p][1] for p, kind in tree if kind == "java")
            for p, kind in tree:
                if kind == "worker":
                    key = (p, table[p][3])
                    self._worker_cpu[key] = max(self._worker_cpu.get(key, 0), table[p][2])

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = self.peak_jvm_rss = 0
        self.sample()

    def worker_cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._worker_cpu.values()) / _TICK

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# -------------------------------------------------------------------- spans

class Spans:
    """In-memory spans; times are epoch seconds (the clock Spark's event
    log uses, in ms)."""

    def __init__(self):
        self.items: list = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, op_id: str | None = None) -> int:
        self.items.append({"id": len(self.items), "name": name, "layer": layer,
                           "start": start, "end": end, "parent": parent, "op_id": op_id})
        return len(self.items) - 1

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, op_id: str | None = None):
        sid = self.add(name, layer, time.time(), 0.0, parent, op_id)
        try:
            yield sid
        finally:
            self.items[sid]["end"] = time.time()

    def self_times(self) -> dict:
        """layer -> Σ (span duration − the part its children cover), s."""
        kids: dict = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.items:
            iv = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], ())]
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - _union(iv)
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"self_time_s": self.self_times(), **extra, "spans": self.items}, fh)


def _union(iv: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------- event log

PY_NODES = {"MapInArrow", "MapInPandas", "PythonMapInArrow", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
            "AggregateInPandas", "WindowInPandas"}


def _walk(node, fn):
    fn(node)
    for c in node.get("children", ()):
        _walk(c, fn)


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and SQL-node accumulator ids from the (rolling)
    event log written under ``log_dir``."""
    jobs, stages, tasks = {}, {}, []
    py_acc: dict = {}  # accumulator id -> python node metric name
    cand_acc: set = set()  # kNN candidate-join output-row accumulators
    exec_group: dict = {}  # execution id -> job group
    checks: dict = {}  # job group -> Dataset.isEmpty executions (one per kNN ring pass)
    cross: set = set()  # job groups whose plans hold a cartesian product
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f) and "appstatus" not in os.path.basename(f))
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                                         "start": e["Submission Time"] / 1e3, "end": None,
                                         "stages": e["Stage IDs"]}
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3,
                        "acc": {a["ID"]: int(a["Value"]) for a in si.get("Accumulables", ())
                                if str(a.get("Value", "")).lstrip("-").isdigit()},
                        "failed": "Failure Reason" in si,
                    }
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    if ev.endswith("Start"):
                        exec_group[e["executionId"]] = e.get("jobGroupId")
                        if ".isEmpty(" in (e.get("details") or "").split("\n", 1)[0]:
                            checks[e.get("jobGroupId")] = checks.get(e.get("jobGroupId"), 0) + 1
                    group = exec_group.get(e["executionId"])

                    def visit(n, group=group):
                        name = n.get("nodeName", "")
                        if name in PY_NODES:
                            for m in n.get("metrics", ()):
                                py_acc[m["accumulatorId"]] = m["name"]
                        joins = ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
                        if name in ("CartesianProduct", "BroadcastNestedLoopJoin") or (
                                name in joins and "cell_key" in n.get("simpleString", "")):
                            if name in ("CartesianProduct", "BroadcastNestedLoopJoin"):
                                cross.add(group)
                            for m in n.get("metrics", ()):
                                if m["name"] == "number of output rows":
                                    cand_acc.add(m["accumulatorId"])

                    _walk(e["sparkPlanInfo"], visit)
    for jid, j in jobs.items():
        for sid in j["stages"]:
            if sid in stages:
                stages[sid].setdefault("job", jid)
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "py_acc": py_acc,
            "cand_acc": cand_acc, "checks": checks, "cross": cross}


def _py_sum(stage: dict, py_acc: dict, metric: str) -> int:
    return sum(v for k, v in stage["acc"].items() if py_acc.get(k) == metric)


def layer_metrics(ev: dict, ops: list, sampler_cpu: float, extra: dict) -> dict:
    """Per-layer metrics over the traced op set ``ops`` (dicts with
    op_id, kind, start, end). Totals are over the whole op set, which is
    fixed per workload, so counts repeat exactly for a seed."""
    groups = {o["op_id"] for o in ops}
    n_ops = max(1, len(ops))
    jobs = {j: v for j, v in ev["jobs"].items() if v["group"] in groups}
    stages = {s: v for s, v in ev["stages"].items() if v.get("job") in jobs}
    tasks = [t for t in ev["tasks"] if t["Stage ID"] in stages]
    py_stages = {s for s, v in stages.items() if any(k in ev["py_acc"] for k in v["acc"])}

    # driver: op wall time not covered by any running stage
    gaps = []
    for o in ops:
        iv = [(max(st["start"], o["start"]), min(st["end"], o["end"]))
              for st in stages.values() if jobs[st["job"]]["group"] == o["op_id"]]
        gaps.append((o["end"] - o["start"]) - _union(iv))

    def tm(t, key, sub=None):
        m = t.get("Task Metrics") or {}
        return (m.get(key) or {}).get(sub, 0) if sub else m.get(key, 0)

    delays, py_task, skews = [], 0.0, []
    by_stage: dict = {}
    for t in tasks:
        ti = t["Task Info"]
        dur = ti["Finish Time"] - ti["Launch Time"]
        run = tm(t, "Executor Run Time")
        delays.append(max(0, dur - run - tm(t, "Executor Deserialize Time")
                          - tm(t, "Result Serialization Time") - ti.get("Getting Result Time", 0)))
        by_stage.setdefault(t["Stage ID"], []).append(run)
    for s in py_stages:
        runs = by_stage.get(s, [])
        py_task += sum(runs) / 1e3
        if len(runs) > 1 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    scan_tasks = [t for t in tasks if tm(t, "Input Metrics", "Bytes Read") > 0]

    def tsum(key, sub=None):
        return sum(tm(t, key, sub) for t in tasks)

    py_in = sum(tm(t, "Input Metrics", "Records Read") + tm(t, "Shuffle Read Metrics", "Total Records Read")
                for t in tasks if t["Stage ID"] in py_stages)
    py_out = sum(_py_sum(stages[s], ev["py_acc"], "number of output rows") for s in py_stages)

    knn_ops = [o for o in ops if o["kind"] == "knn"]
    knn_groups = {o["op_id"] for o in knn_ops}
    # a ring pass ends in an emptiness check of the unresolved queries,
    # except a final cross-join pass
    rounds = sum(ev["checks"].get(g, 0) + (1 if g in ev["cross"] else 0) for g in knn_groups)
    knn_stages = [v for v in stages.values() if jobs[v["job"]]["group"] in knn_groups]
    cands = sum(val for v in knn_stages for k, val in v["acc"].items() if k in ev["cand_acc"])
    knn_shuffle = sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
                      if jobs[stages[t["Stage ID"]]["job"]]["group"] in knn_groups)
    n_knn = max(1, len(knn_ops))

    # tile passes: tile-stage rows computed per tile row written, over the
    # full write (a resume rewrites a seed-dependent share of the rows)
    write_groups = {o["op_id"] for o in ops if o["kind"] in ("write", "resume")}
    full_groups = {o["op_id"] for o in ops if o["kind"] == "write"}
    full_stages = [v for s, v in stages.items()
                   if s in py_stages and jobs[v["job"]]["group"] in full_groups]
    tile_rows = sum(_py_sum(v, ev["py_acc"], "number of output rows") for v in full_stages)
    tile_bytes = sum(_py_sum(v, ev["py_acc"], "data returned from Python workers") for v in full_stages)
    resume_jobs = sum(1 for j in jobs.values()
                      if j["group"] in {o["op_id"] for o in ops if o["kind"] == "resume"})
    write_bytes = sum(tm(t, "Output Metrics", "Bytes Written") for t in tasks
                      if jobs[stages[t["Stage ID"]]["job"]]["group"] in write_groups)
    per_write = extra.get("tile_rows_per_write", 0)

    return {
        "driver.jobs_per_op": len(jobs) / n_ops,
        "driver.stages_per_op": len(stages) / n_ops,
        "driver.gap_ms_per_op": 1e3 * sum(gaps) / n_ops,
        "tasks.scheduler_delay_ms": statistics.mean(delays) if delays else 0.0,
        "tasks.failed": sum(1 for t in tasks if t["Task Info"].get("Failed")),
        "tasks.total": len(tasks),
        "scan.bytes_read": tsum("Input Metrics", "Bytes Read"),
        "scan.task_s": sum(tm(t, "Executor Run Time") for t in scan_tasks) / 1e3,
        "pystage.task_s": py_task,
        "pystage.cpu_s": sampler_cpu,
        "pystage.skew": statistics.median(skews) if skews else 0.0,
        "pystage.records_in": py_in,
        "pystage.records_out": py_out,
        **extra.get("kernels", {}),
        "tiler.tiles_out": per_write,
        "tiler.payload_bytes_out": tile_bytes / tile_rows * per_write if tile_rows else 0,
        "manifest.tile_passes": tile_rows / per_write if per_write else 0.0,
        "manifest.write_bytes_per_payload_byte": (
            write_bytes / extra["tile_payload_bytes"] if extra.get("tile_payload_bytes") else 0.0),
        "manifest.files_written": extra.get("files_written", 0),
        "manifest.resume_jobs": resume_jobs,
        "manifest.verify_s": extra.get("verify_s", 0.0),
        "knn.rounds_per_query": rounds / n_knn if knn_ops else 0,
        "knn.candidates_per_neighbour": cands / extra["knn_neighbours"] if extra.get("knn_neighbours") else 0.0,
        "knn.shuffle_bytes_per_query": knn_shuffle / n_knn if knn_ops else 0,
        "shuffle.write_bytes": tsum("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "shuffle.read_bytes": tsum("Shuffle Read Metrics", "Local Bytes Read")
        + tsum("Shuffle Read Metrics", "Remote Bytes Read"),
        "shuffle.fetch_wait_ms": tsum("Shuffle Read Metrics", "Fetch Wait Time"),
        "shuffle.records": tsum("Shuffle Write Metrics", "Shuffle Records Written"),
        "jvm.gc_ms": tsum("JVM GC Time"),
        "spill.bytes": tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled"),
        "tasks.peak_exec_mem_mb": max((tm(t, "Peak Execution Memory") for t in tasks), default=0) / 2**20,
        "mem.peak_rss_mb": extra.get("mem.peak_rss_mb", 0.0),
        "mem.jvm_rss_mb": extra.get("mem.jvm_rss_mb", 0.0),
    }


def event_spans(ev: dict, ops: list, spans: Spans, op_span: dict) -> None:
    """Add Spark job and stage spans under their op's span."""
    job_span = {}
    for jid, j in sorted(ev["jobs"].items()):
        if j["group"] in op_span and j["end"] is not None:
            job_span[jid] = spans.add(f"job {jid}", "spark.job", j["start"], j["end"],
                                      op_span[j["group"]], j["group"])
    for sid, s in sorted(ev["stages"].items()):
        if s.get("job") in job_span:
            spans.add(f"stage {sid}", "spark.stage", s["start"], s["end"],
                      job_span[s["job"]], ev["jobs"][s["job"]]["group"])
