"""Benchmark of the weather-telemetry engine.

    python3 perfbench/run.py --workload {ingest,queries} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Workloads (see ``BENCHMARK.json``):

- ``ingest`` (``perfbench/ingest.py``): the streaming write path. Archive,
  rejects, latest view, index and rain alerts over a seeded wire backlog.
- ``queries`` (``perfbench/queries.py``): the 34 analytics registry queries
  over the sf0.01 tables, closed loop.

End-to-end metrics, printed with ``--trace 0``, mean the same on both
workloads, where an operation is a micro-batch (``ingest``) or a query
(``queries``):

- ``setup_s``: session start, input generation and warm-up,
- ``peak_rss_mb``: peak resident memory of the driver, the JVM and the
  Python workers together, sampled from ``/proc``,
- ``throughput_per_s``: valid rows drained per second, or queries per second,
- ``op_p50_s``, ``op_p90_s``: operation latency; an ingest operation is one
  micro-batch, done when the slowest of the five sinks has committed it
  (the largest ``triggerExecution`` among the sinks' batches of one file).

``--trace 1`` makes a separate run that prints the per-layer metrics instead.
A layer the workload does not exercise reports 0. The last line of standard
output is the JSON result; failed checks are listed on standard error. All
scratch files go to ``perfbench/_work``, which is deleted at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    ROOT,
    WORK,
    MemorySampler,
    Result,
    prepare_env,
    start_spark,
    stop_spark,
)

WORKLOADS = ("ingest", "queries")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = [m["name"] for m in group]

    t_start = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    cores = prepare_env()
    workload = importlib.import_module(f"perfbench.{args.workload}")

    result = Result()
    try:
        with MemorySampler() as mem:
            spark = start_spark(cores)
            session_s = time.perf_counter() - t_start
            try:
                workload.run(spark, args.seed, args.seconds, bool(args.trace), result)
            finally:
                stop_spark(spark)
        mem.report(result)
        result.put("setup_s", session_s + result.metrics["setup_s"][0], "s")
        if args.trace:
            for m in group:  # layers this workload does not exercise did no work
                result.metrics.setdefault(m["name"], (0.0, m["unit"]))
        line = result.line(names)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    for problem in result.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
