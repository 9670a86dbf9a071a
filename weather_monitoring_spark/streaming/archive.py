"""M3 — the archive pipeline: wire stream -> canonical schema -> partitioned
Snappy Parquet with checkpointing.

Replaces the reference's Central Station consumer chain
(``CentralStation.java:58-77`` Kafka Streams foreach -> ``convertToAvro``
-> blocking queue -> ``ParquetArchiver`` worker thread with 1000-record
batches, ``ParquetArchiver.java:57-120``) with one Structured Streaming
query: micro-batch execution replaces the hand-rolled queue+worker+batch
machinery, the checkpoint replaces Kafka-committed offsets (T7), and the
partitioned parquet sink replaces the hand-built Hive-style path writer
(``ParquetArchiver.java:122-143``).

Deliberate deviations (SURVEY.md §4.3):
- partition layout is ``date=/hour=`` only — the reference's extra
  ``station_id=`` level produces one tiny file per (batch x station), a
  small-files anti-pattern that explodes directory counts at 100 TB.
  ``station_id`` query pruning instead comes from sorting within
  partitions so parquet row-group min/max stats are selective.
- count-based flush (1000 records) becomes time-based triggers; file size
  is bounded by ``maxRecordsPerFile`` from the opposite direction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.operators.core import normalize_wire, with_partition_cols
from weather_monitoring_spark.schema import BATTERY_DOMAIN, WEATHER_WIRE_SCHEMA

#: Rows per output file — bounds file sizes the way BitCask bounded segment
#: files at 10 MB (BitCask.java:14), but from the too-many-rows direction.
MAX_RECORDS_PER_FILE = 1_000_000


def parse_wire(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1 — JSON parse with explicit schema; malformed rows yield a null
    struct (kept for rejects routing, T9). Replaces the per-message
    Jackson try/catch at ``CentralStation.java:63, 74-76``.

    Returns every column of ``raw`` (Kafka key/topic/offset, watermarked
    event-time columns) plus ``_parsed``.

    The one-row ``inline(array(struct(...)))`` generator is a barrier that
    makes the parse happen once per row. A plain ``withColumn`` lets the
    optimizer push ``valid_condition()`` below the projection and prune
    every field access into its own ``from_json``: the executed plan then
    parsed each line 6-7 times for ``canonical`` and 10-11 times for
    ``rejects``. Predicates cannot move below a generator's output, so
    the filters and projections above it read the one parsed struct.
    """
    parsed = F.from_json(F.col(value_col), WEATHER_WIRE_SCHEMA).alias("_parsed")
    return raw.select(F.inline(F.array(F.struct(*[raw[c] for c in raw.columns], parsed))))


def valid_condition() -> Column:
    """A parsed row is archivable when required fields exist and the
    battery enum is in-domain (P6, ``WeatherStatus.avsc:7-11``)."""
    p = F.col("_parsed")
    return (
        p.isNotNull()
        & p["stationId"].isNotNull()
        & p["sequenceNumber"].isNotNull()
        & F.lower(p["batteryStatus"]).isin(*BATTERY_DOMAIN)
        & p["statusTimestamp"].isNotNull()
    )


def wire_to_canonical(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """Full ingest transform: parse -> split valid/rejects -> normalize ->
    partition columns. Returns (canonical, rejects)."""
    parsed = parse_wire(raw, value_col)
    ok = valid_condition()
    rejects = parsed.filter(~ok | ok.isNull()).select(
        F.col(value_col).alias("raw_value"), F.current_timestamp().alias("rejected_at")
    )
    canonical = with_partition_cols(
        normalize_wire(parsed.filter(ok).select("_parsed.*"))
    )
    return canonical, rejects


def run_archive_stream(
    wire_stream: DataFrame,
    archive_dir: str,
    checkpoint_dir: str,
    rejects_dir: str | None = None,
    trigger: dict | None = None,
    value_col: str = "value",
) -> list[StreamingQuery]:
    """Start the archive query (and optionally a rejects query).

    One source, two sinks: Spark requires independent queries per sink;
    both checkpoint under ``checkpoint_dir`` and are individually
    recoverable (T7). Sorting within partitions clusters station_id so
    row-group stats prune per-station reads.
    """
    canonical, rejects = wire_to_canonical(wire_stream, value_col)
    trig = trigger or {"processingTime": "10 seconds"}  # T1 default

    # (Streaming plans cannot sort; station_id clustering for row-group
    # pruning happens in compact_archive(), the batch rewrite job.)
    queries = [
        canonical.writeStream.format("parquet")
        .option("path", archive_dir)
        .option("checkpointLocation", f"{checkpoint_dir}/archive")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("date", "hour")
        .outputMode("append")
        .trigger(**trig)
        .start()
    ]
    if rejects_dir is not None:
        queries.append(
            rejects.writeStream.format("json")
            .option("path", rejects_dir)
            .option("checkpointLocation", f"{checkpoint_dir}/rejects")
            .outputMode("append")
            .trigger(**trig)
            .start()
        )
    return queries


def read_archive(spark, archive_dir: str, ignore_sink_log: bool = True) -> DataFrame:
    """Batch reader over the archive; WHERE date=/hour= prunes partitions,
    station_id predicates prune row groups via the compacted sorted layout.

    ``ignore_sink_log=True`` (default) lists files from the filesystem
    instead of the streaming sink's ``_spark_metadata`` log. The log is
    the exactly-once read authority for an append-only sink directory,
    but it can never learn about files that ``compact_archive`` rewrote
    in place — reading through it after a compaction would silently
    resurrect deleted files and miss compacted ones. Filesystem listing
    is the contract here (a table format — Delta/Iceberg — is what makes
    both properties hold at once; out of scope per SURVEY §4.3). Pass
    ``False`` only for a never-compacted archive where read isolation
    from in-flight micro-batches matters more than compactability.

    NOTE: the ``ignoreMetadata`` conf has no per-read DataFrameReader
    option, so it is set-and-restored on the session around relation
    resolution. Another thread resolving a parquet relation in the same
    session inside that window would observe the temporary value — call
    this from single-threaded maintenance/analysis contexts (the same
    contract as ``sources.tables.load_table``'s nanosAsLong toggle).
    """
    if not ignore_sink_log:
        return spark.read.parquet(archive_dir)
    # Scoped like the loader's nanosAsLong: the conf is consulted when
    # the relation resolves, so set-read-restore confines it to this read.
    key = "spark.sql.streaming.fileStreamSink.ignoreMetadata"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(archive_dir)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def active_archive_writers(spark, archive_dir: str) -> list[tuple[str, str]]:
    """Active StreamingQueries that are (or may be) writing to
    ``archive_dir``: matched by the file sink description in their
    progress events. A query that has not yet produced progress reports
    an unknown sink and is treated as a potential writer — the
    conservative reading, since in-place compaction under a concurrent
    writer silently deletes rows appended between snapshot and commit."""
    import os as _os

    target = _os.path.abspath(archive_dir)
    hits: list[tuple[str, str]] = []
    for q in spark.streams.active:
        try:
            descs = []
            progresses = list(q.recentProgress or [])
            if q.lastProgress:
                progresses.append(q.lastProgress)
            for p in progresses:
                descs.append(str((p.get("sink") or {}).get("description", "")))
            if not descs:
                hits.append((q.name or str(q.id), "<no progress yet - sink unknown>"))
            elif any(archive_dir in d or target in d for d in descs):
                hits.append((q.name or str(q.id), descs[-1]))
        except Exception:
            # The query may have terminated between listing and probing.
            continue
    return hits


def compact_archive(
    spark,
    archive_dir: str,
    out_dir: str | None = None,
    dates: list[str] | None = None,
    force: bool = False,
) -> None:
    """Periodic batch rewrite of the archive: coalesce small streaming
    files and cluster rows by ``station_id`` within each (date, hour)
    partition so parquet row-group min/max stats prune per-station scans.

    This is the engine's analogue of BitCask's 60 s compaction
    (``BitCask.java:188-254``) and the antidote to the reference's
    one-file-per-(batch x station) layout (``ParquetArchiver.java:98-120``):
    run it on a schedule, scoped by ``dates`` to the partitions that just
    closed — at 100 TB you compact yesterday, never the whole archive.

    Two modes:

    - ``out_dir=None`` (the production shape): in-place, dynamic
      partition overwrite (a per-write ``DataFrameWriter`` option — no
      session-global conf is touched, so concurrent readers in the same
      session never observe a temporary overwrite mode) replaces ONLY
      the partitions present in the selection; untouched dates keep
      their files. The selection is pinned via ``localCheckpoint``
      before the write so the plan no longer reads the path it
      overwrites (and the rewrite is not recomputed mid-overwrite from
      half-deleted inputs); the checkpoint blocks are unpersisted once
      the write commits. Idempotent: re-running rewrites the same
      partitions to the same content.
    - ``out_dir=str``: full rewrite to a fresh directory; swapping
      directories is the caller's (atomic) move so readers never see a
      half-compacted archive.

    **Concurrent-writer guard (in-place mode):** rows appended to a
    targeted partition between the snapshot and the write commit would
    be silently deleted, so in-place compaction REFUSES to run while any
    active StreamingQuery is (or may be — unknown sinks count) writing
    to ``archive_dir`` (``active_archive_writers``). Compact only CLOSED
    dates, after the writer has stopped or moved past them;
    ``force=True`` overrides for callers that can prove the active
    writer targets other partitions. Concurrent *batch readers*: a
    DataFrame resolved BEFORE the compaction pins the old file listing
    and fails loudly afterwards (path relations snapshot their file
    index at resolution); re-opening via ``read_archive`` after the
    compaction — which refreshes the path in its finally block — sees
    the identical row multiset. Both behaviors are pinned by tests in
    tests/test_streaming.py.

    ``repartition("date", "hour")`` hashes each partition's rows into one
    task -> one output file per (date, hour), re-split only by
    ``maxRecordsPerFile`` from the opposite direction.
    """
    if out_dir is None and not force:
        writers = active_archive_writers(spark, archive_dir)
        if writers:
            raise RuntimeError(
                "in-place compact_archive refused: active streaming "
                f"queries may be writing to {archive_dir!r}: {writers}; "
                "stop them (or pass force=True if they provably target "
                "other partitions)"
            )
    # The session shares a file-status cache across reads of the same
    # path; after an earlier in-place compaction deleted files, a cached
    # listing would surface FileNotFound mid-scan. Refresh before reading
    # (and again after an in-place rewrite, for later readers). The read
    # itself must bypass the streaming sink's _spark_metadata log — the
    # log still lists pre-compaction files (see read_archive).
    spark.catalog.refreshByPath(archive_dir)
    df = read_archive(spark, archive_dir)
    if dates is not None:
        df = df.filter(F.col("date").cast("string").isin([str(d) for d in dates]))
    df = df.repartition("date", "hour").sortWithinPartitions("station_id", "s_no")

    writer_target = out_dir
    pinned = None
    if out_dir is None:
        pinned = df = df.localCheckpoint(eager=True)
        writer_target = archive_dir
    try:
        writer = (
            df.write.partitionBy("date", "hour")
            .option("compression", "snappy")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        )
        if out_dir is None:
            # Scoped to THIS write: only partitions in the selection are
            # replaced; a session-level conf flip would leak to others.
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.mode("overwrite").parquet(writer_target)
    finally:
        if out_dir is None:
            spark.catalog.refreshByPath(archive_dir)
        if pinned is not None:
            # Release the checkpoint blocks — a scheduled maintenance job
            # in a long-lived session must not accumulate pinned RDDs.
            pinned.unpersist()
