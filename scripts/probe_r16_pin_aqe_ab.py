#!/usr/bin/env python
"""Alternating-order interleaved A/B for two r15 decisions whose original
measurements came from throttled windows:

1. q50's shared-decode pin (load_table(pin=...) -> localCheckpoint of the
   projected scan): SPARK_GRAFT_PIN toggled at plan-build time.
2. The session AQE coalesce floor (minPartitionSize 64k vs the 1m
   default), runtime-settable, on the window/rollup queries it was
   shipped for (q57, q10, q40, q22).

Same methodology as probe_r16_spread_ab.py: variants of one query run
back-to-back each round with the order alternating per round (an
identical-plan control there measured ~11% second-position bias in
fixed order), noop sink, medians over rounds.

Usage: python scripts/probe_r16_pin_aqe_ab.py [runs]
Writes scripts/probe_r16_pin_aqe_ab.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_monitoring_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM = "/root/testdata/sf0.001"

AQE_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
AQE_QUERIES = ["q57_window_zoo", "q10_hourly_rollup", "q40_sessionization",
               "q22_percentiles"]


def _exec(spark, name: str, sf_dir: str) -> float:
    from weather_monitoring_spark.plans.registry import all_queries

    t0 = time.perf_counter()
    df = all_queries()[name].spark(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)


def q50_pin(spark, sf_dir, variant):
    prior = os.environ.get("SPARK_GRAFT_PIN")
    os.environ["SPARK_GRAFT_PIN"] = "1" if variant == "a" else "0"
    try:
        spark.sparkContext.setJobDescription(f"pinAB:q50:{variant}")
        return _exec(spark, "q50_dedup_survivors", sf_dir)
    finally:
        if prior is None:
            os.environ.pop("SPARK_GRAFT_PIN", None)
        else:
            os.environ["SPARK_GRAFT_PIN"] = prior


def aqe_floor(spark, sf_dir, name, variant):
    prior = spark.conf.get(AQE_FLOOR_KEY, None)
    spark.conf.set(AQE_FLOOR_KEY, "64k" if variant == "a" else "1m")
    try:
        spark.sparkContext.setJobDescription(f"aqeAB:{name}:{variant}")
        return _exec(spark, name, sf_dir)
    finally:
        if prior is None:
            spark.conf.unset(AQE_FLOOR_KEY)
        else:
            spark.conf.set(AQE_FLOOR_KEY, prior)


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(app_name="wms-r16-pin-aqe-ab")
    spark.sparkContext.setLogLevel("ERROR")

    pairs: list[tuple[str, object]] = [
        ("q50_pin", lambda v, sf: q50_pin(spark, sf, v)),
    ] + [
        (f"aqe_{n}", (lambda n: lambda v, sf: aqe_floor(spark, sf, n, v))(n))
        for n in AQE_QUERIES
    ]

    for key, fn in pairs:  # warm both variants at the tiny SF
        for v in ("a", "b"):
            try:
                fn(v, WARM)
            except Exception as e:  # pragma: no cover
                print(f"warm {key}:{v} failed: {e}", file=sys.stderr)

    t: dict[str, list[float]] = {}
    for i in range(runs):
        for key, fn in pairs:
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            for v in order:
                k = f"{key}:{'on' if v == 'a' else 'off'}"
                try:
                    t.setdefault(k, []).append(fn(v, SF_DIR))
                except Exception as e:
                    print(f"{k} failed: {e}", file=sys.stderr)
                    t.setdefault(k, []).append(-1.0)

    out = {
        k: {
            "median": round(
                statistics.median([x for x in ts if x >= 0] or [-1]), 4
            ),
            "samples": ts,
        }
        for k, ts in t.items()
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "probe_r16_pin_aqe_ab.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
