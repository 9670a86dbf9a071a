"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the benchmark from its command line at the
smallest size (``--seconds 1``); together they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import common, gen

with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    out = _run(common.ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    group = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {m["name"]: m["unit"] for m in group}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not os.path.exists(common.WORK)


def test_run_fails_without_the_engine():
    bare = os.path.join(common.WORK, "bare")
    try:
        shutil.copytree(os.path.join(common.ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "__pycache__"))
        shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), bare)
        out = _run(bare, "ingest", 0)
    finally:
        shutil.rmtree(common.WORK, ignore_errors=True)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_backlog_is_seeded_and_plants_every_input_property():
    lines, expected = gen.backlog(7, 20_000, 200)
    assert (lines, expected) == gen.backlog(7, 20_000, 200)
    assert lines != gen.backlog(8, 20_000, 200)[0]
    assert expected.lines == len(lines)
    parsed = []
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    valid = [m for m in parsed if "stationId" in m and m["batteryStatus"].lower() in gen.BATTERY]
    assert len(lines) - len(valid) == expected.rejects == len(expected.bad_lines) > 0
    for i in expected.bad_lines:
        try:
            msg = json.loads(lines[i])
        except json.JSONDecodeError:
            continue
        assert "stationId" not in msg or msg["batteryStatus"] not in gen.BATTERY
    assert len(valid) == expected.valid_rows
    keys = [(m["stationId"], m["sequenceNumber"]) for m in valid]
    assert len(set(keys)) == expected.distinct_docs < len(keys)  # replays
    last = {}
    for s, n in keys:
        last[s] = max(last.get(s, 0), n)
    gaps = sum(last.values()) - len({k for k in keys})
    assert 0.05 < gaps / sum(last.values()) < 0.15  # ~10% sequence gaps
    assert any(m["batteryStatus"] != m["batteryStatus"].lower() for m in valid)


@pytest.fixture(scope="module")
def spark():
    cores = common.prepare_env()
    session = common.start_spark(cores)
    yield session
    common.stop_spark(session)
    shutil.rmtree(common.WORK, ignore_errors=True)


def test_ingest_gate_counts_a_view_missing_one_station(spark):
    import pyarrow.parquet as pq

    from perfbench import ingest

    lines, expected = gen.backlog(5, 600, 40)
    stream = ingest.Stream(spark, os.path.join(common.WORK, "gate"), False)
    try:
        for body in gen.split_files(lines, 2):
            stream.feed(body)
    finally:
        stream.stop()
    out = stream.out
    assert ingest._check(spark, out, expected)[1] == []

    view_dir = os.path.join(out, "view")
    (part,) = [f for f in os.listdir(view_dir) if f.endswith(".parquet")]
    table = pq.read_table(os.path.join(view_dir, part))
    pq.write_table(table.slice(1), os.path.join(view_dir, part))
    assert [sink for sink, _ in ingest._check(spark, out, expected)[1]] == ["latest_view"]


def test_queries_gate_counts_a_missing_row(spark):
    from perfbench import queries

    with open(queries.EXPECTED) as f:
        want = json.load(f)["q09_enum_distribution"]
    pdf = queries.timed_queries()["q09_enum_distribution"].spark(spark, queries.DATA).toPandas()
    assert queries.result_digest(pdf) == (want["rows"], want["sha256"])
    assert queries.result_digest(pdf.iloc[1:]) != (want["rows"], want["sha256"])
