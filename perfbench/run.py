#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload review_jobs --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), starts one JVM with one Sessions.local(nproc)
session, runs the workload on inputs generated from --seed, checks every
operation's output, prints each metric with its unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end set; with --trace 1 they are
its per_layer set, taken from a traced run that follows an untraced run
of the same seed; how much worse the traced run read is reported as the
tracing overhead.

Everything a run writes lives under <build dir>/runs/<run id>, which is
deleted when the run ends. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("review_jobs", "vector_serving")
RUN_LIMIT_S = 170.0


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(jar: Path, run_dir: Path, workload: str, seed: int, seconds: int,
             trace: int, data: Path) -> list:
    """The benchmark JVM's command line; every file it writes stays under run_dir."""
    return ["java"] + build.jvm_options(run_dir) + [
        "-cp", build.classpath(jar), "perfbench.Bench",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--root", str(data), "--cores", str(cores()),
    ]


def jvm(jar: Path, run_dir: Path, a, trace: int, deadline: float) -> dict:
    """One benchmark JVM; returns its RESULT object."""
    cmd = java_cmd(jar, run_dir, a.workload, a.seed, a.seconds, trace, run_dir / "data")
    log = open(run_dir / f"jvm{trace}.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                            text=True, start_new_session=True)
    result = None
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("benchmark JVM exceeded the run time limit")
            if not sel.select(timeout=min(left, 1.0)):
                continue
            chunk = proc.stdout.readline()
            if chunk == "":
                break
            if chunk.startswith("RESULT "):
                result = json.loads(chunk[len("RESULT "):])
            else:
                print(chunk, end="", flush=True)
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if code != 0 or result is None:
        tail = (run_dir / f"jvm{trace}.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        raise RuntimeError(f"benchmark JVM failed (exit code {code})")
    return result


def main() -> int:
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads(Path("BENCHMARK.json").read_text())
    jar = build.build()
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    run_dir = build.build_dir() / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        base = jvm(jar, run_dir / "untraced", a, 0, deadline)
        runs = [base]
        if a.trace:
            runs.append(jvm(jar, run_dir / "traced", a, 1, deadline))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        traced = runs[1]
        values = dict(traced["layers"])
        # overhead = how much worse the traced run read, so lower is better
        # for every overhead metric
        for m in spec["end_to_end"]:
            k = m["name"]
            v, t = base["e2e"].get(k), traced["e2e"].get(k)
            if v is not None and t is not None:
                values[f"overhead.{k}"] = round(t - v if m["better"] == "lower" else v - t, 6)
        wanted = spec["per_layer"]
    else:
        values = base["e2e"]
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (SystemExit, KeyboardInterrupt):
        raise
    except Exception as e:  # a failed run prints no result
        print(f"run failed: {e}", file=sys.stderr)
        sys.exit(1)
