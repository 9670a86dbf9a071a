"""M4 — idempotent bulk index sink (the Elasticsearch path, S7/S8).

The reference indexes Parquet rows into ES two ways; the Spark one
(``ElasticSearch/src/main/java/org/example/SparkParquetStreamingToElasticsearch.java``)
``collect()``s every document to the driver (``:124``) and bulk-posts from
there — its known scalability sin. This sink keeps the reference's
semantics (doc id ``station_id_s_no`` -> idempotent upsert, bulk batches,
bounded retries, log-and-continue) but writes **from the executors** via
``foreachPartition``: no driver bottleneck, parallelism = partitions.

The HTTP client is pluggable. ``elasticsearch-py`` isn't in this
container, so the default client is a filesystem-backed fake with the same
bulk/upsert contract — the Spark-side plumbing (doc-id synthesis, dedup,
partition-parallel bulk batching, retry loop) is the real deliverable and
is fully tested. Swapping in a real ES client is a constructor argument.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def _json_default(o):
    """JSON fallback serializer: date/datetime/time -> ISO-8601 with the
    'T' separator, which Elasticsearch dynamic date detection recognizes
    (str(datetime) yields 'YYYY-MM-DD HH:MM:SS' — no 'T' — and the field
    would dynamic-map as text, not date; the reference indexer ships
    ISO strings, ParquetToElasticsearch.java:193)."""
    import datetime

    if isinstance(o, (datetime.datetime, datetime.date, datetime.time)):
        return o.isoformat()
    return str(o)

BULK_SIZE = 100  # ParquetToElasticsearch.java:273
MAX_RETRIES = 3  # SparkParquetStreamingToElasticsearch.java:177
RETRY_DELAY_S = 0.5  # :178


def with_doc_id(df: DataFrame) -> DataFrame:
    """P9 — doc id ``station_id_s_no`` (ParquetToElasticsearch.java:193),
    plus P11 — the ISO-8601 rendering of the event time that the reference
    writes into every ES document (``Instant.ofEpochMilli(ts).toString()``,
    ParquetToElasticsearch.java:229-235). Session TZ is pinned to UTC, so
    the rendering is reproducible."""
    return df.withColumn(
        "doc_id", F.concat_ws("_", F.col("station_id"), F.col("s_no"))
    ).withColumn(
        "status_timestamp_iso",
        F.date_format(F.col("status_timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
    )


def fs_bulk_upsert(index_dir: str) -> Callable[[list[dict]], None]:
    """Filesystem-backed stand-in for an ES bulk endpoint: one JSON file
    per doc id -> last write wins == idempotent upsert by id."""

    def bulk(docs: list[dict]) -> None:
        os.makedirs(index_dir, exist_ok=True)
        for doc in docs:
            path = os.path.join(index_dir, f"{doc['doc_id']}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(doc, f, sort_keys=True, default=_json_default)
            os.replace(tmp, path)

    return bulk


def bulk_payload(docs: list[dict], index: str) -> bytes:
    """The ES ``_bulk`` NDJSON wire format: an ``index`` action line
    (upsert-by-id semantics — same outcome as the reference's
    ``IndexRequest`` with an explicit id, ParquetToElasticsearch.java:193)
    followed by the document source, one pair per doc, trailing newline
    required by the protocol. Pure function so the wire shape is testable
    without a server."""
    lines: list[bytes] = []
    for doc in docs:
        action = {"index": {"_index": index, "_id": str(doc["doc_id"])}}
        lines.append(json.dumps(action).encode("utf-8"))
        lines.append(json.dumps(doc, sort_keys=True, default=_json_default).encode("utf-8"))
    return b"\n".join(lines) + b"\n"


def http_bulk_upsert(
    es_url: str, index: str, timeout_s: float = 10.0
) -> Callable[[list[dict]], None]:
    """Real Elasticsearch bulk client over stdlib ``urllib`` — no
    ``elasticsearch-py`` dependency, so it works wherever a server does.
    Same contract as ``fs_bulk_upsert``: idempotent upsert by doc id.
    Raises on transport errors AND on per-item failures (the response's
    ``errors`` flag), so ``index_partition``'s bounded retry wraps both.

    Closure state is just (url, index) strings — safe to ship to
    executors via ``foreachPartition``; each partition opens its own
    connections (the reference's single shared client at
    ParquetToElasticsearch.java:54-85 is the driver-side pattern this
    sink exists to avoid)."""
    import urllib.request

    endpoint = f"{es_url.rstrip('/')}/_bulk"

    def bulk(docs: list[dict]) -> None:
        req = urllib.request.Request(
            endpoint,
            data=bulk_payload(docs, index),
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            body = json.loads(resp.read())
        if body.get("errors"):
            failed = [
                item["index"].get("error")
                for item in body.get("items", [])
                if item.get("index", {}).get("error")
            ]
            raise RuntimeError(f"bulk: {len(failed)} item failures: {failed[:3]}")

    return bulk


def index_partition(
    rows: Iterator[Row],
    bulk_fn: Callable[[list[dict]], None],
    bulk_size: int = BULK_SIZE,
) -> None:
    """Executor-side bulk loop: batch, retry with backoff, log-and-continue
    (T10 — same policy as SparkParquetStreamingToElasticsearch.java:172-208)."""
    buf: list[dict] = []

    def flush() -> None:
        if not buf:
            return
        for attempt in range(MAX_RETRIES):
            try:
                bulk_fn(buf)
                break
            except Exception:
                if attempt == MAX_RETRIES - 1:
                    print(f"index_sink: dropping {len(buf)} docs after {MAX_RETRIES} attempts")
                else:
                    time.sleep(RETRY_DELAY_S)
        buf.clear()

    for row in rows:
        buf.append(row.asDict(recursive=True))
        if len(buf) >= bulk_size:
            flush()
    flush()


def index_docs(batch_df: DataFrame) -> DataFrame:
    """The documents of one micro-batch: doc id and ISO rendering, deduped
    by doc id (Q7 — exactly-once effect on an at-least-once channel).

    Every ``TimestampType`` column is cast to ``timestamp_ntz`` under the
    pinned session TZ (UTC), so a doc carries the UTC instant that
    ``status_timestamp_iso`` renders. Left as a timestamp, ``Row.asDict``
    would turn it into a naive datetime in the Python worker's local TZ."""
    docs = with_doc_id(batch_df).dropDuplicates(["doc_id"])
    return docs.select(
        *[
            F.col(f.name).cast(T.TimestampNTZType()).alias(f.name)
            if isinstance(f.dataType, T.TimestampType)
            else F.col(f.name)
            for f in docs.schema.fields
        ]
    )


def index_batch(
    batch_df: DataFrame,
    bulk_fn: Callable[[list[dict]], None],
    bulk_size: int = BULK_SIZE,
) -> None:
    """One micro-batch: ``index_docs``, then partition-parallel bulk writes."""
    index_docs(batch_df).foreachPartition(lambda rows: index_partition(rows, bulk_fn, bulk_size))


def attach_index_sink(
    canonical_stream: DataFrame,
    bulk_fn: Callable[[list[dict]], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    bulk_size: int = BULK_SIZE,
) -> StreamingQuery:
    """S8 — streaming variant: foreachBatch(index_batch) with checkpoint."""
    trig = trigger or {"processingTime": "10 seconds"}
    return (
        canonical_stream.writeStream.foreachBatch(
            lambda df, _id: index_batch(df, bulk_fn, bulk_size)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**trig)
        .start()
    )
