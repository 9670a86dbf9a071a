"""M4 — the latest-per-key serving view: the reference's BitCask KV store
re-expressed as a streaming-maintained materialized view.

BitCask semantics (``Base-Central-Station/src/main/java/org/example/BitCask.java``):
- ``put`` overwrites the in-memory keyDir unconditionally -> latest wins
  by arrival order (``:119-141``); tightened here to latest-by-``s_no``
  which is deterministic and equal under per-key ordered arrival
  (SURVEY.md §1.4).
- ``get``/``getAll`` serve point/scan lookups (``:143-180``).
- a 60 s compaction rewrites segments latest-only (``:182-254``) — our
  equivalent is the per-batch overwrite of the (tiny) view table itself:
  the view IS always compacted; there is no log to reclaim.

Design: ``foreachBatch`` merge. Spark reduces each micro-batch to one row
per key (``max_by`` with map-side partials, so batch volume never reaches
the driver) and hands that to the driver as Arrow. The driver keeps the
current view as a pyarrow table in memory, merges the batch's rows into it
(sort by keys asc / seq desc, keep each key's first row), writes the result
with ``pyarrow.parquet`` to a temp dir and renames it over the view. No
Spark job re-reads, re-aggregates or commits the view.

Memory: the view has one row per key — cardinality-bounded, not
volume-bounded — so the driver holds O(keys): about 50 bytes a station,
50 MB for 1M stations. A new ``LatestView`` (a restarted query) loads the
table from ``view_dir`` on its first batch, including views written by the
earlier Spark merge (INT96 or microsecond timestamps). Crash mid-rewrite
is handled by the temp-dir rename plus checkpointed micro-batch replay
(idempotent: replaying a batch the view already absorbed rewrites the same
bytes).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from weather_monitoring_spark.operators.core import latest_per_key


class LatestView:
    """Latest-per-key serving table, maintained by foreachBatch merges."""

    def __init__(
        self,
        spark: SparkSession,
        view_dir: str,
        key_cols: tuple[str, ...] = ("station_id",),
        seq_col: str = "s_no",
    ) -> None:
        self.spark = spark
        self.view_dir = view_dir
        self.key_cols = list(key_cols)
        self.seq_col = seq_col
        #: The view as of the last merge; loaded from ``view_dir`` on the
        #: first merge.
        self._view: pa.Table | None = None

    # -- reads (the serving surface; CentralStationServer.java:31-58) ----

    def get_all(self) -> DataFrame:
        """``GET /stations`` — full scan of the view (BitCask.getAll)."""
        return self.spark.read.parquet(self.view_dir)

    def get(self, **key_values: object) -> DataFrame:
        """``GET /station?id=`` — point lookup (BitCask.get)."""
        df = self.get_all()
        for col, val in key_values.items():
            df = df.filter(F.col(col) == F.lit(val))
        return df

    def export_csv(self, out_dir: str) -> None:
        """S12 — the Weather-Client's CSV dump of the serving view
        (``Weather-Client/bitcask_client.py:11-29`` writes key,value rows;
        we export the full typed view with a header, nested struct
        flattened since CSV has no struct type)."""
        df = self.get_all()
        cols = []
        for f in df.schema.fields:
            if f.dataType.typeName() == "struct":
                cols.extend(
                    F.col(f"{f.name}.{sub.name}").alias(f"{f.name}_{sub.name}")
                    for sub in f.dataType.fields
                )
            else:
                cols.append(F.col(f.name))
        df.select(*cols).coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(out_dir)

    # -- writes -----------------------------------------------------------

    def merge_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """Reduce the batch in Spark, merge it into the view on the driver,
        atomically swap the view directory.

        Latest-by-seq merge is idempotent under micro-batch replay (T7):
        replaying a batch against a view that already absorbed it leaves
        the view unchanged. On equal seq the row already in the view wins.
        """
        batch = latest_per_key(batch_df, self.key_cols, self.seq_col).toArrow()
        if self._view is None and os.path.exists(self.view_dir):
            self._view = pq.read_table(self.view_dir).cast(batch.schema)
        merged = batch if self._view is None else pa.concat_tables([self._view, batch])
        merged = self._latest(merged)
        tmp = self.view_dir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        pq.write_table(merged, os.path.join(tmp, "part-00000.parquet"))
        old = self.view_dir + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(self.view_dir):
            os.rename(self.view_dir, old)
        os.rename(tmp, self.view_dir)
        if os.path.exists(old):
            shutil.rmtree(old)
        self._view = merged

    def _latest(self, table: pa.Table) -> pa.Table:
        """Each key's row with the highest seq, ordered by key. The sort is
        stable, so on equal seq the earlier row wins."""
        order = [(k, "ascending") for k in self.key_cols] + [(self.seq_col, "descending")]
        table = table.take(pc.sort_indices(table, sort_keys=order))
        rows = table.select(self.key_cols).append_column("_row", pa.array(range(table.num_rows), pa.int64()))
        first = rows.group_by(self.key_cols).aggregate([("_row", "min")])["_row_min"]
        return table.take(first.sort()).combine_chunks()

    def attach(
        self,
        canonical_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Attach the view-maintenance query to a canonical-schema stream."""
        trig = trigger or {"processingTime": "10 seconds"}
        return (
            canonical_stream.writeStream.foreachBatch(self.merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(**trig)
            .start()
        )
