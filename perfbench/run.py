#!/usr/bin/env python3
"""Benchmark of rsgislib_spark: seeded workloads, one client.

    python3 perfbench/run.py --workload zonal-decoded --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` (cached under ``perfbench/.cache``), starts a Spark session at
``local[nproc]`` and measures the workload's operations for ``--seconds``
seconds (and at least ``min_cycles`` cycles of its op kinds), checking
every result against an independent numpy reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload's fixed op set untraced, with Spark's event log on, and untraced
again, then the traced op set of its companion workload if it has one,
and prints the per-layer metrics (spans go to ``perfbench/.traces``).
The last line of standard output is the result as one JSON object; the
line before it carries the run's environment, load and error details.

``--smoke`` shrinks every input to a seconds-long size; ``--corrupt``
perturbs the first result before it is checked (a self-test of the checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Tail percentiles tried, highest first; one needs ≥ 10 samples beyond it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def driver_mem() -> str:
    """Two fifths of the host's memory (6g on a 16 GB host), in whole GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, kb * 2 // 5 // 2**20)}g"


def pin_env(work: str) -> dict:
    """Pin the settings both sides of a comparison must share."""
    n = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return {"nproc": n, **env}


def cpu_times() -> list:
    """The host-wide CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def start_session(wl, work: str, event_log: str | None = None):
    from rsgislib_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        **wl.spark_conf,
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    return get_spark(master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]", app_name="perfbench",
                     extra_conf=conf)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    descendant whose parent ends (the JVM's shell helpers, Python workers
    of a stopped daemon) is reparented here and can be waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes() -> None:
    """End every process this run started and wait for each: the Spark
    JVM (which on its own outlives this process by its shutdown hooks),
    its Python workers and multiprocessing's resource tracker."""
    import signal
    import subprocess

    import tracing

    tree = tracing.descendants()
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            SparkContext._gateway.close()
            proc.stdin.close()  # the gateway exits on EOF, after its shutdown hooks
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if "multiprocessing.resource_tracker" in sys.modules:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        tree.update(tracing.descendants())
        left = {p: s for p, s in tree.items() if tracing.alive(p, s)}
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p: s for p, s in left.items() if tracing.alive(p, s)}
        reap()
        if not left and not tracing.descendants():
            return
    print(f"processes still running: {sorted(left)}", file=sys.stderr)


def reap() -> None:
    """Wait for every ended child, orphans adopted by this process too."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def run_one(spark, wl, kind: str, n: int, corrupt: bool = False, spans=None, parent=None) -> dict:
    """One operation: untimed preparation, the timed call, then the check."""
    wl.before_op(kind)
    op_id = f"op-{n}"
    spark.sparkContext.setJobGroup(op_id, kind)
    sid = None
    if spans is not None:
        sid = spans.add(kind, "op", time.time(), 0.0, parent, op_id)
    start, t0 = time.time(), time.perf_counter()
    try:
        items, result = wl.run_op(spark, kind, spans, sid)
        dt = time.perf_counter() - t0
        # jobs a check runs must not count as the op's
        spark.sparkContext.setJobGroup(f"{op_id}-check", "check")
        errors = wl.check(kind, wl.corrupt(kind, result) if corrupt else result)
    except Exception as e:  # a failed op is counted, the run goes on
        dt, items, errors = time.perf_counter() - t0, 0, [f"{kind}: {type(e).__name__}: {e}"]
    if sid is not None:
        spans.items[sid]["end"] = start + dt
    return {"op_id": op_id, "kind": kind, "start": start, "end": start + dt, "latency": dt,
            "items": items, "errors": errors}


def tail(latencies: list) -> dict | None:
    n = len(latencies)
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= 10:
            return {"pct": p, "ms": statistics.quantiles(latencies, n=1000)[int(p * 10) - 1] * 1e3,
                    "samples": n}
    return None


def measured_run(wl, args, work: str, sampler) -> tuple:
    # setup_s is the run's one set-up: session start with the JVM launch
    # (a second session in this process would reuse that JVM), input load,
    # cache fill and warm-up
    t0 = time.perf_counter()
    spark = start_session(wl, work)
    ops = []
    try:
        wl.load(spark)
        setup_s = time.perf_counter() - t0
        wl.reset()
        sched, cycle = wl.schedule(), len(wl.kinds)
        t_end = time.perf_counter() + args.seconds
        while True:
            kind = next(sched)
            now = time.perf_counter()
            # stop on a whole cycle of the workload's op kinds
            if now >= t_end and len(ops) % cycle == 0 and len(ops) >= cycle * wl.min_cycles:
                break
            if now >= t_end + 60:  # a run must end within a few minutes
                break
            ops.append(run_one(spark, wl, kind, len(ops), corrupt=args.corrupt and not ops))
    finally:
        spark.stop()
    lat = {k: [o["latency"] for o in ops if o["kind"] == k] for k in wl.kinds}
    p50 = {k: statistics.median(v) * 1e3 for k, v in lat.items()}
    counted = [o for o in ops if o["kind"] in wl.item_kinds]
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (sum(o["items"] for o in counted) / sum(o["latency"] for o in counted), "1/s"),
        "p50_ms": (p50[wl.kinds[0]], "ms"),
    }
    info = {"p50_ms_by_kind": p50, "peak_rss_mb": sampler.peak_rss / 2**20,
            "latencies_ms": {k: [round(v * 1e3, 3) for v in vs] for k, vs in lat.items()},
            "tail": tail([o["latency"] for o in ops])}
    return ops, metrics, info


def traced_session(wl, work: str, sampler) -> tuple:
    """The workload's op set once, in a session with Spark's event log on
    and each op's jobs in a job group: (ops, per-layer metrics, spans)."""
    import tracing

    log_dir = os.path.join(work, f"eventlog-{wl.name}")
    spark = start_session(wl, work, event_log=log_dir)
    spans = tracing.Spans()
    run_span = spans.add("run", "run", time.time(), 0.0)
    try:
        wl.load(spark)
        wl.reset()
        sampler.reset_peak()
        cpu0 = sampler.worker_cpu_s()
        ops = [run_one(spark, wl, k, n, spans=spans, parent=run_span)
               for n, k in enumerate(wl.traced_ops())]
        cpu = sampler.worker_cpu_s() - cpu0
        extra = {**wl.trace_extra(), "mem.peak_rss_mb": sampler.peak_rss / 2**20,
                 "mem.jvm_rss_mb": sampler.peak_jvm_rss / 2**20}
    finally:
        spark.stop()  # flushes the event log
    ev = tracing.parse_event_log(log_dir)
    op_span = {s["op_id"]: s["id"] for s in spans.items if s["layer"] == "op"}
    tracing.event_spans(ev, ops, spans, op_span)
    extra["kernels"] = wl.kernels(spans, run_span)
    spans.items[run_span]["end"] = time.time()
    return ops, tracing.layer_metrics(ev, ops, cpu, extra), spans


def write_spans(wl, spans, ops: list, layers: dict, **extra) -> str:
    path = os.path.join(HERE, ".traces", f"{wl.name}-s{wl.seed}.json")
    spans.write(path, {"workload": wl.name, "seed": wl.seed, "ops": [o["kind"] for o in ops],
                       "traced_ms": [o["latency"] * 1e3 for o in ops], "per_layer": layers, **extra})
    return os.path.relpath(path, ROOT)


def traced_run(wl, args, work: str, sampler) -> tuple:
    from workloads import WORKLOADS

    def untraced() -> list:
        spark = start_session(wl, work)
        try:
            wl.load(spark)
            wl.reset()
            return [run_one(spark, wl, k, n) for n, k in enumerate(wl.traced_ops())]
        finally:
            spark.stop()

    # the untraced op set runs before and after the traced one, so the
    # overhead is not the warm-up of the JVM the sessions share
    base = untraced()
    ops, layers, spans = traced_session(wl, work, sampler)
    base_after = untraced()
    untraced_s = (sum(o["latency"] for o in base) + sum(o["latency"] for o in base_after)) / 2
    layers["trace.overhead_ratio"] = sum(o["latency"] for o in ops) / untraced_s - 1.0
    files = [write_spans(wl, spans, ops, layers, untraced_ms=[
        [o["latency"] * 1e3 for o in b] for b in (base, base_after)])]
    info = {"trace_overhead_ratio": layers["trace.overhead_ratio"], "self_time_s": spans.self_times()}
    ops = base + ops + base_after
    if wl.companion:
        # the companion's layers have no timed workload of their own
        cw = WORKLOADS[wl.companion](wl.seed, wl.smoke, work)
        info["companion_input_digest"] = cw.prepare()["digest"]
        c_ops, c_layers, c_spans = traced_session(cw, work, sampler)
        layers.update({k: v for k, v in c_layers.items() if k.startswith(cw.own_layers)})
        files.append(write_spans(cw, c_spans, c_ops, c_layers))
        ops += c_ops
    units = per_layer_units()
    info["spans_files"] = files
    return ops, {k: (v, units.get(k, "")) for k, v in layers.items()}, info


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="seconds-long input sizes")
    ap.add_argument("--corrupt", action="store_true", help="perturb the first result")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rsgislib_spark", "__init__.py")):
        print(f"rsgislib_spark not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    adopt_orphans()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    env = pin_env(work)
    load_pre, cpu_pre = os.getloadavg(), cpu_times()
    import tracing

    wl = WORKLOADS[args.workload](args.seed, args.smoke, work)
    try:
        meta = wl.prepare()
        sampler = tracing.ProcSampler().start()
        try:
            run = traced_run if args.trace else measured_run
            ops, metrics, info = run(wl, args, work, sampler)
        finally:
            sampler.stop()
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu_pre, cpu_times())]
    attempted = len(ops)
    failed = sum(1 for o in ops if o["errors"])
    info.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "smoke": args.smoke,
        "env": env, "spark_conf": wl.spark_conf, "input_digest": meta["digest"], "input": meta,
        "loadavg_pre": load_pre, "loadavg_post": os.getloadavg(),
        # CPU time the hypervisor gave to other guests, as a share of the run's
        "cpu_steal_share": cpu[7] / max(1, sum(cpu)),
        "ops": {k: sum(1 for o in ops if o["kind"] == k) for k in wl.kinds},
        "error_rate": failed / attempted if attempted else 1.0,
        "errors": [e for o in ops for e in o["errors"]][:10],
    })
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
