#!/usr/bin/env python3
"""Self-tests of the benchmark, at the seconds-long ``--smoke`` size.

    python3 perfbench/selftest.py

Checks that the same seed gives the same input digest (and another seed
another one), that every metric named in ``BENCHMARK.json`` is printed
with its unit for every workload, that a deliberately corrupted result
raises ``error_rate``, that the traced zonal-decoded run (which adds the
tile-manifest op set) reports ``manifest.tile_passes`` above 0, that no
run leaves a process behind (a JVM, a Python worker, a zombie), and that
the benchmark refuses to run without the package next to it. Exits
non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 11
#: processes a run left behind, per run
LEFT: list = []


def pids() -> set:
    return {int(d) for d in os.listdir("/proc") if d.isdigit()}


def run(*args, cwd=ROOT) -> tuple:
    before = pids()
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    left = []
    for pid in sorted(pids() - before):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, state = stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2]
        if state == "Z" or name in ("java", "bash") or name.startswith("python"):
            left.append(f"{pid} {name} {state}")
    if left:
        LEFT.append(f"{' '.join(args)}: {left}")
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p


def check_digests(failures: list) -> None:
    sys.path[:0] = [ROOT, HERE]
    import inputs

    tmp = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    inputs.CACHE = tmp
    try:
        for kind, build, n in (("images", inputs.build_image_set, 40),
                               ("footprints", inputs.build_footprint_set, 500)):
            first = inputs.cached(kind, SEED, n, build)[1]["digest"]
            shutil.rmtree(tmp)
            again = inputs.cached(kind, SEED, n, build)[1]["digest"]
            other = inputs.cached(kind, SEED + 1, n, build)[1]["digest"]
            if first != again:
                failures.append(f"{kind}: seed {SEED} gave two digests")
            if first == other:
                failures.append(f"{kind}: seeds {SEED} and {SEED + 1} gave one digest")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_runs(failures: list) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            code, res, p = run("--workload", name, "--seed", str(SEED), "--seconds", "2",
                               "--trace", str(trace), "--smoke")
            if res is None:
                failures.append(f"{name} trace={trace}: exit {code}\n{p.stderr[-1500:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{name} trace={trace}: metrics/units differ: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not res["correct"] or res["failed"]:
                failures.append(f"{name} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            passes = res["metrics"].get("manifest.tile_passes", {}).get("value")
            if trace and name == "zonal-decoded" and not (passes or 0) > 0:
                failures.append(f"{name}: manifest.tile_passes = {passes}, expected > 0")
    # tile-manifest runs inside the zonal-decoded traced run; its checks too
    for name in [w["name"] for w in spec["workloads"]] + ["tile-manifest"]:
        code, res, p = run("--workload", name, "--seed", str(SEED), "--seconds", "2",
                           "--trace", "0", "--smoke", "--corrupt")
        if res is None or res["correct"] or not res["failed"]:
            failures.append(f"{name}: a corrupted result did not raise error_rate ({res})")


def check_refuses_bare_copy(failures: list) -> None:
    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache", ".work", ".traces", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, _, p = run("--workload", "zonal-decoded", "--seed", "1", "--seconds", "1",
                         "--trace", "0", cwd=bare)
        if code == 0 or p.stdout.strip():
            failures.append("a checkout without rsgislib_spark still printed a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    failures: list = []
    for check in (check_digests, check_refuses_bare_copy, check_runs):
        check(failures)
        failures += [f"left running after {x}" for x in LEFT]
        LEFT.clear()
        print(f"{check.__name__}: {'ok' if not failures else 'FAILED'}", flush=True)
    for f in failures:
        print("FAIL:", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
