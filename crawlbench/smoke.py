"""Smoke check of the benchmark itself, from a checkout root:

    python3 crawlbench/smoke.py [workload ...]

Checks that layer_map.json maps exactly BENCHMARK.json's per-layer
metrics. Runs every workload (default: all of run.py's) in ``--tiny``
mode with tracing off and on, and asserts for each run that it exits 0,
that its outputs pass the correctness check, and that the metric names
it prints are exactly BENCHMARK.json's end-to-end (trace off) or
per-layer (trace on) names. Prints the tracing overhead of each workload. Finally checks
that the benchmark refuses to run, without a result line, in a directory
that holds only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run_once(root: str, workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    with open(os.path.join(HERE, "layer_map.json")) as f:
        mapped = set(json.load(f)["metrics"])
    if mapped != names[1]:
        raise SystemExit(f"layer_map.json and BENCHMARK.json per_layer differ: "
                         f"{sorted(mapped ^ names[1])}")
    for workload in sys.argv[1:] or WORKLOADS:
        res = {}
        for trace in (0, 1):
            out = res[trace] = run_once(root, workload, trace)
            if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
                raise SystemExit(f"{workload} trace={trace}: correctness check failed: "
                                 f"{out['failed']}/{out['attempted']}")
            if set(out["metrics"]) != names[trace]:
                raise SystemExit(
                    f"{workload} trace={trace}: metric names differ from "
                    f"BENCHMARK.json: {sorted(set(out['metrics']) ^ names[trace])}")
        traced = res[1]["metrics"]["trace.op_p50_s"]["value"]
        plain = res[0]["metrics"]["op_p50_s"]["value"]
        print(f"ok {workload}: attempted={res[0]['attempted']} "
              f"tracing overhead {traced - plain:+.3f} s per op "
              f"({traced / plain - 1:+.1%})", flush=True)

    # a directory holding only BENCHMARK.json and the benchmark: no package
    os.makedirs(os.path.join(root, ".crawlbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".crawlbench"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, os.path.join(bare, "crawlbench", "run.py"), "--workload",
             WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode == 0 or proc.stdout.strip():
            raise SystemExit("bare directory: expected a non-zero exit and no result")
        print(f"ok bare directory: exit {proc.returncode}, no result line")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
