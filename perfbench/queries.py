"""The ``queries`` workload: the registry's analytics queries, closed loop,
one at a time.

Tables are the sf0.01 test tables shipped in ``perfbench/data/sf0.01``, the
scale the repository's DuckDB correctness gate uses. Set-up runs every query
once through the ``noop`` sink, untimed, to warm code generation, the JIT and
the Python workers, as many at a time as there are cores. The timed passes
then run the queries one at a time, as many whole passes as fit in
``--seconds`` (at least one; a pass took 15-21 s on a 4-core host). Each
query is timed from plan construction until its result has been collected
to the driver as pandas; outside the timed region the result is compared
(row count and an order-insensitive hash) with ``expected_queries.json``,
recorded by ``record_expected.py``. The seed sets the order of the queries
within each pass.

The 34 queries of ``core_queries``, ``analytics_queries`` and
``extended_queries`` run; the 16 of ``llm_queries`` do not. With them a run
takes about 95 s on a 4-core host, too long for a benchmark repeated dozens
of times per comparison, and without a warm-up their timings spread by 20-35%
between runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.common import ROOT, JobCounter, Result, median, p90

DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
EXPECTED = os.path.join(ROOT, "perfbench", "expected_queries.json")
#: The registry module whose queries this workload leaves out.
LLM_MODULE = "weather_monitoring_spark.plans.llm_queries"


def timed_queries() -> dict:
    """The registry queries this workload runs, by name."""
    from weather_monitoring_spark.plans.registry import all_queries

    return {n: q for n, q in all_queries().items() if q.spark.__module__ != LLM_MODULE}


def result_digest(pdf) -> tuple[int, str]:
    """(row count, sha256 of the normalized rows) of a pandas result, with
    the normalization the repository's oracle harness compares by: sorted
    columns, typed unrounded cells, sorted rows."""
    from tests.oracle_harness import _norm_pdf

    return len(pdf), hashlib.sha256(repr(_norm_pdf(pdf)).encode()).hexdigest()


def run(spark, seed: int, seconds: int, trace: bool, result: Result) -> None:
    t_setup = time.perf_counter()
    specs = timed_queries()
    with open(EXPECTED) as f:
        expected = json.load(f)
    if sorted(specs) != sorted(expected):
        raise RuntimeError("registry queries differ from expected_queries.json")
    names = sorted(specs)
    random.Random(seed).shuffle(names)

    def warm(name: str) -> None:
        try:
            specs[name].spark(spark, DATA).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - the checked timed passes report failures
            pass

    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        list(pool.map(warm, names))
    result.put("setup_s", time.perf_counter() - t_setup, "s")

    jobs = JobCounter(spark.sparkContext) if trace else None
    samples: dict[str, list[float]] = {n: [] for n in names}
    build = execute = 0.0
    n_jobs = n_tasks = passes = 0
    t0 = time.perf_counter()
    # Whole passes only, each started when it should end within ``seconds``:
    # a pass cut short would weight the queries differently from run to run.
    while passes == 0 or (time.perf_counter() - t0) * (passes + 1) / passes <= seconds:
        passes += 1
        for name in names:
            result.attempted += 1
            group = f"perfbench-{passes}-{name}"
            if jobs:
                spark.sparkContext.setJobGroup(group, name)
            try:
                ta = time.perf_counter()
                df = specs[name].spark(spark, DATA)
                tb = time.perf_counter()
                pdf = df.toPandas()
                tc = time.perf_counter()
            except Exception as e:  # a crashing query is a failed operation
                result.fail(1, f"{name}: raised {type(e).__name__}: {e}")
                continue
            samples[name].append(tc - ta)
            build += tb - ta
            execute += tc - tb
            got = result_digest(pdf)
            want = (expected[name]["rows"], expected[name]["sha256"])
            if got != want:
                result.fail(1, f"{name}: (rows, hash) {got} != {want}")
            if jobs:
                ids = jobs.jobs(group)
                n_jobs += len(ids)
                n_tasks += jobs.tasks(ids)

    every = [t for s in samples.values() for t in s]
    result.put("throughput_per_s", len(every) / max(sum(every), 1e-9), "1/s")
    result.put("op_p50_s", median(every), "s")
    result.put("op_p90_s", p90(every), "s")
    if trace:
        per_query = {n: median(s) for n, s in samples.items() if s}
        result.put("queries.analytics_pass_s", sum(per_query.values()), "s")
        for n, t in per_query.items():
            result.put(f"queries.{n}.s", t, "s")
        result.put("queries.build_s", build / passes, "s")
        result.put("queries.exec_s", execute / passes, "s")
        result.put("queries.jobs", n_jobs / passes, "count")
        result.put("queries.tasks", n_tasks / passes, "count")
