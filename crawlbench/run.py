"""Crawl-engine benchmark: run one named workload of ``pholcus_spark``
from a seed on ``local[nproc]`` and print one JSON result line.

    python3 crawlbench/run.py --workload polite_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the same workload with
spans around every public call the benchmark makes, plus layer drives,
reports the per-layer metrics, and writes the spans to
``.crawlbench/traces/<workload>-seed<n>.json``. ``--tiny`` shrinks every
input so a run takes seconds (the smoke check uses it).

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``attempted`` counts the reference records the outputs were checked
against and ``failed`` the records that are missing, extra or differ;
their ratio is the workload's failure ratio.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

WORKLOADS = ("polite_crawl", "curate")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pholcus_spark", "__init__.py")):
        print("crawlbench: run from a checkout root holding pholcus_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import harness

    spec = harness.load_spec(root)
    run = harness.Run(root, args.workload, args.seed, args.seconds,
                      bool(args.trace), args.tiny)
    run.pin_environment()
    try:
        session_s = run.start_session()
        importlib.import_module(args.workload).main(run)
        run.metrics["peak_rss_mb"] = run.sampler.stop()
        run.metrics["setup_s"] = session_s + harness.median(run.setup_times)
        if run.trace:
            # tracing overhead = this minus the untraced run's op_p50_s;
            # the workload takes both over the same unit operations
            run.layers["trace.op_p50_s"] = run.metrics["op_p50_s"]
            run.tracer.dump(run.trace_path(), {
                "series": run.series,
                "end_to_end_traced": run.metrics,
                "setup_times": run.setup_times,
                "written": time.time(),
            })
        line = harness.result_line(run, spec)
    finally:
        run.stop()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
