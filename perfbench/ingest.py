"""The ``ingest`` workload: the write path of the reference topology.

The benchmark feeds a seeded backlog of wire-JSON files, one file at a time,
to the engine's five sinks, each its own streaming query over the same file
source, polling it every 50 ms with one file per micro-batch:

- ``archive``: ``run_archive_stream`` to partitioned Parquet,
- ``rejects``: its rejects query, to JSON files,
- ``latest_view``: ``LatestView.attach`` (latest row per station),
- ``index_sink``: ``attach_index_sink`` with a null bulk endpoint that builds
  the ``_bulk`` NDJSON body with the engine's ``bulk_payload`` and discards
  it, keeping only the doc ids it was sent,
- ``rain_alerts``: ``rain_alerts`` over the canonical stream, to Parquet.

The feed is a closed loop: the next file lands when every sink has committed
the previous one, so micro-batch k of every sink reads file k, and all five
queries work on every batch. An operation is one micro-batch, timed by its
slowest sink's ``triggerExecution``. Draining the whole backlog at once with
``availableNow`` instead lets archive, rejects and alerts run ahead at about
twice the speed of view and index, so the batch latencies fall in two
phases (five queries competing for the cores, then two) and their median
moved by a quarter between seeds as the phase boundary moved.

The queries start during set-up, which also feeds them two files to warm
the JVM and the Python workers. Afterwards every sink's output,
the warm-up rows included, is checked against the generator's expectations.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np

from perfbench import gen
from perfbench.common import JobCounter, Result, median, p90

#: Backlog size per measured second: 25 s make five micro-batches, which a
#: 4-core host feeds in 20-25 s. More batches would not fit the time budget
#: of the benchmark's repeated runs.
LINES_PER_SECOND = 4_000
#: Lines per landed file, and so per micro-batch. Each sink pays about 1 s
#: per micro-batch whatever its size; at 20k lines that is under half of a
#: batch, at 5k lines it is most of it (1.9k rows/s drained against 4.4k).
BATCH_LINES = 20_000
#: Set-up feeds a small file, which runs every query's first batch, then a
#: full-size one. The first full-size batch took a third longer than the
#: later ones, so the timed batches start after it.
WARM_LINES = 1_000
WARM_FILES = 2
#: About ten readings per station in every micro-batch, so both the in-batch
#: latest-per-station reduction and the merge into the 2000-row view work.
N_STATIONS = 2_000
#: How often each idle sink query looks for a new file.
TRIGGER = {"processingTime": "50 milliseconds"}
SINKS = ("archive", "rejects", "latest_view", "index_sink", "rain_alerts")


class NullBulk:
    """Index endpoint that encodes each bulk request as the ``_bulk`` NDJSON
    body and throws it away. Runs in the Python workers; it appends the doc
    ids of each call to a file of its own so the driver can count calls,
    docs sent and distinct docs."""

    def __init__(self, ids_dir: str) -> None:
        self.ids_dir = ids_dir

    def __call__(self, docs: list[dict]) -> None:
        from weather_monitoring_spark.streaming.index_sink import bulk_payload

        bulk_payload(docs, "weather")
        path = os.path.join(self.ids_dir, uuid.uuid4().hex)
        with open(path, "w") as f:
            f.write("\n".join(str(d["doc_id"]) for d in docs))


class TimedView:
    """Wraps ``LatestView.merge_batch`` with a timer (traced runs only)."""

    def __init__(self, view) -> None:
        self.merge = view.merge_batch
        self.seconds: list[float] = []
        view.merge_batch = self

    def __call__(self, batch_df, batch_id=None) -> None:
        t0 = time.perf_counter()
        self.merge(batch_df, batch_id)
        self.seconds.append(time.perf_counter() - t0)


def _start(spark, src: str, out: str, view_timer: bool):
    """Start the five sink queries over ``src``; outputs under ``out``."""
    from pyspark.sql import types as T

    from weather_monitoring_spark.streaming import (
        LatestView,
        attach_index_sink,
        rain_alerts,
        run_archive_stream,
        wire_to_canonical,
    )

    ckpt = os.path.join(out, "ckpt")
    wire = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    archive, rejects = run_archive_stream(
        wire,
        os.path.join(out, "archive"),
        ckpt,
        rejects_dir=os.path.join(out, "rejects"),
        trigger=TRIGGER,
    )
    canonical, _ = wire_to_canonical(wire)
    view = LatestView(spark, os.path.join(out, "view"))
    timer = TimedView(view) if view_timer else None
    latest = view.attach(canonical, os.path.join(ckpt, "view"), trigger=TRIGGER)
    ids_dir = os.path.join(out, "index_ids")
    os.makedirs(ids_dir)
    index = attach_index_sink(canonical, NullBulk(ids_dir), os.path.join(ckpt, "index"), trigger=TRIGGER)
    alerts = (
        rain_alerts(canonical)
        .writeStream.format("parquet")
        .option("path", os.path.join(out, "rain_alerts"))
        .option("checkpointLocation", os.path.join(ckpt, "rain_alerts"))
        .trigger(**TRIGGER)
        .start()
    )
    return dict(zip(SINKS, (archive, rejects, latest, index, alerts))), timer


class Stream:
    """The five sink queries over one source directory, fed one file at a
    time; outputs and checkpoints go under ``work/out``."""

    def __init__(self, spark, work: str, view_timer: bool) -> None:
        self.src = os.path.join(work, "src")
        self.staging = os.path.join(work, "staging")
        self.out = os.path.join(work, "out")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.queries, self.timer = _start(spark, self.src, self.out, view_timer)
        self.files = 0

    def feed(self, body: str) -> None:
        """Land one file (written aside, then renamed in, so the source never
        lists a partial file) and wait until every sink has committed it."""
        name = f"wire-{self.files:05d}.json"
        with open(os.path.join(self.staging, name), "w") as f:
            f.write(body)
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        self.files += 1
        for sink, q in self.queries.items():
            # processAllAvailable can return before a file that landed while
            # the query was listing its source, so wait for the batch itself.
            while len(self.batches(sink)) < self.files:
                if not q.isActive:
                    raise RuntimeError(f"{sink} query stopped: {q.exception()}")
                q.processAllAvailable()

    def batches(self, sink: str) -> list[dict]:
        """Progress reports of the sink's micro-batches that read a file."""
        return [p for p in self.queries[sink].recentProgress if p["numInputRows"] > 0]

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


def run(spark, seed: int, seconds: int, trace: bool, result: Result) -> None:
    t_setup = time.perf_counter()
    work = os.path.join(os.environ["TMPDIR"], "ingest")
    shutil.rmtree(work, ignore_errors=True)
    n_files = max(2, round(seconds * LINES_PER_SECOND / BATCH_LINES))
    lines, expected = gen.backlog(seed, WARM_LINES + (n_files + 1) * BATCH_LINES, N_STATIONS)
    bodies = gen.split_files(lines[:WARM_LINES], 1) + gen.split_files(lines[WARM_LINES:], n_files + 1)
    stream = Stream(spark, work, trace)
    try:
        for body in bodies[:WARM_FILES]:
            stream.feed(body)
        result.put("setup_s", time.perf_counter() - t_setup, "s")
        t0 = time.perf_counter()
        for body in bodies[WARM_FILES:]:
            stream.feed(body)
        feed_s = time.perf_counter() - t0
        progress = {sink: stream.batches(sink)[WARM_FILES:] for sink in SINKS}
    finally:
        stream.stop()

    result.attempted += len(SINKS) * n_files
    counts, bad = _check(spark, stream.out, expected)
    for sink, why in bad:
        result.fail(n_files, f"{sink}: {why}")

    # The k-th batch of every sink read the k-th timed file.
    per_sink = [[p["durationMs"]["triggerExecution"] / 1e3 for p in progress[s]] for s in SINKS]
    per_batch = [max(times) for times in zip(*per_sink)]
    timed_lines = sum(body.count("\n") for body in bodies[WARM_FILES:])
    warm = len(lines) - timed_lines
    timed_rows = timed_lines - sum(1 for i in expected.bad_lines if i >= warm)
    result.put("throughput_per_s", timed_rows / feed_s, "1/s")
    result.put("op_p50_s", median(per_batch), "s")
    result.put("op_p90_s", p90(per_batch), "s")
    if trace:
        _trace(spark, stream, progress, timed_lines, expected, counts, result)


def _check(spark, out: str, expected: gen.Expected) -> tuple[dict[str, int], list[tuple[str, str]]]:
    """Compare every sink's output with the generator's expectations.
    Returns the row counts read back and (sink, reason) per mismatch."""
    import pyarrow.dataset as ds

    bad = []
    archive = _digest(ds.dataset(os.path.join(out, "archive"), format="parquet", partitioning="hive").to_table())
    if archive != expected.archive:
        bad.append(("archive", f"row multiset {archive} != {expected.archive}"))
    view = _digest(ds.dataset(os.path.join(out, "view"), format="parquet").to_table())
    if view != expected.view:
        bad.append(("latest_view", f"view {view} != {expected.view}"))
    ids = _index_ids(os.path.join(out, "index_ids"))
    distinct = len(set(ids))
    if distinct != expected.distinct_docs:
        bad.append(("index_sink", f"{distinct} distinct docs != {expected.distinct_docs}"))
    rejects = spark.read.json(os.path.join(out, "rejects")).count()
    if rejects != expected.rejects:
        bad.append(("rejects", f"{rejects} rejects != {expected.rejects}"))
    alerts = ds.dataset(os.path.join(out, "rain_alerts"), format="parquet").count_rows()
    if alerts != expected.rain_alerts:
        bad.append(("rain_alerts", f"{alerts} alerts != {expected.rain_alerts}"))
    return {"rejects": rejects, "rain_alerts": alerts}, bad


def _digest(table) -> tuple[int, int]:
    """Multiset digest of canonical rows read back from Parquet."""
    import pyarrow.compute as pc

    weather = table.column("weather").combine_chunks()
    battery = table.column("battery_status").to_numpy(zero_copy_only=False)
    codes = {b: i for i, b in enumerate(gen.BATTERY)}
    ts = pc.cast(pc.cast(table.column("status_timestamp"), "timestamp[ms]"), "int64")
    cols = {
        "station_id": table.column("station_id").to_numpy(),
        "s_no": table.column("s_no").to_numpy(),
        "battery": np.array([codes.get(b, -1) for b in battery], dtype=np.int64),
        "ts_ms": ts.to_numpy(),
        "humidity": weather.field("humidity").to_numpy(zero_copy_only=False),
        "temperature": weather.field("temperature").to_numpy(zero_copy_only=False),
        "wind_speed": weather.field("wind_speed").to_numpy(zero_copy_only=False),
    }
    return gen.multiset_digest(cols)


def _index_ids(ids_dir: str) -> list[str]:
    ids: list[str] = []
    for name in os.listdir(ids_dir):
        with open(os.path.join(ids_dir, name)) as f:
            ids.extend(f.read().split("\n"))
    return ids


def _trace(spark, stream: Stream, progress, timed_lines: int, expected, counts, result: Result) -> None:
    def p50(sink: str, *keys: str) -> float:
        return median([sum(p["durationMs"].get(k, 0) for k in keys) / 1e3 for p in progress[sink]])

    all_progress = [p for s in SINKS for p in progress[s]]
    result.put(
        "ingest.source.get_batch_p50_s",
        median([p["durationMs"].get("getBatch", 0) / 1e3 for p in all_progress]),
        "s",
    )
    result.put(
        "ingest.source.rows_read_per_row",
        sum(p["numInputRows"] for p in all_progress) / timed_lines,
        "ratio",
    )
    result.put("ingest.archive.add_batch_p50_s", p50("archive", "addBatch"), "s")
    result.put("ingest.archive.planning_p50_s", p50("archive", "queryPlanning"), "s")
    result.put("ingest.archive.commit_p50_s", p50("archive", "walCommit", "commitOffsets"), "s")
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(stream.out, "archive"))
        if "_spark_metadata" not in d
        for f in fs
        if f.endswith(".parquet")
    ]
    result.put("ingest.archive.files", len(files), "count")
    result.put(
        "ingest.archive.bytes_per_row",
        sum(os.path.getsize(f) for f in files) / expected.valid_rows,
        "B",
    )
    result.put("ingest.rejects.add_batch_p50_s", p50("rejects", "addBatch"), "s")
    result.put("ingest.rejects.rows", counts["rejects"], "count")
    result.put("ingest.latest_view.merge_p50_s", median(stream.timer.seconds[WARM_FILES:]), "s")
    result.put("ingest.latest_view.add_batch_p50_s", p50("latest_view", "addBatch"), "s")
    result.put("ingest.index_sink.add_batch_p50_s", p50("index_sink", "addBatch"), "s")
    ids_dir = os.path.join(stream.out, "index_ids")
    ids = _index_ids(ids_dir)
    result.put("ingest.index_sink.bulk_calls", len(os.listdir(ids_dir)), "count")
    result.put("ingest.index_sink.docs_sent_per_doc", len(ids) / max(1, len(set(ids))), "ratio")
    result.put("ingest.rain_alerts.add_batch_p50_s", p50("rain_alerts", "addBatch"), "s")
    result.put("ingest.rain_alerts.rows", counts["rain_alerts"], "count")
    # Each streaming query runs its jobs under its run id as the job group.
    jobs = JobCounter(spark.sparkContext)
    n_jobs = sum(len(jobs.jobs(str(q.runId))) for q in stream.queries.values())
    result.put("ingest.jobs_per_batch", n_jobs / stream.files, "count")
