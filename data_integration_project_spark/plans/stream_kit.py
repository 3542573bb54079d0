"""Stream kit: the replay sources, heartbeat rows, memory-sink drain and
update-mode resolution the streaming catalog queries share.

Users: ``events_q``, ``dedup_q`` and ``relational_q``.

* :func:`replay` streams one fixture table's parquet file.
* :func:`staged_replay` streams fixture files and DataFrames one per
  trigger, in the order given; :func:`heartbeats` makes far-future event
  rows that push the watermark past every real row.
* :func:`attribution_join` is the watermarked purchase/click join.
* :func:`drain` runs a stream into a memory sink until it has consumed
  its input and returns the result, leaving no stream and no view behind.
* :func:`last_update` keeps each key's last update-mode emission.

The ETL drain in ``streaming/pipeline.py`` writes zones through
``foreachBatch`` and does not use this kit.
"""

from __future__ import annotations

import datetime
import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import run_tmpdir

#: Event time of every heartbeat: later than any fixture row (the
#: generator writes 2024), so no real row depends on the value.
FAR_FUTURE = datetime.datetime(2100, 1, 1)

_EVENT_ROWS = (
    "array<struct<event_id: bigint, ts: timestamp_ntz, user_id: bigint, "
    "event_type: string, value: double, props: string>>"
)


def replay(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``table``'s fixture file as a file-source stream. The source reads
    directories, so it lists ``sf_dir`` and keeps the one file."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def heartbeats(spark: SparkSession, *beats: tuple[datetime.datetime, str]) -> DataFrame:
    """One events row per ``(ts, event_type)``, with event and user ids
    -1, -2, ...: a production stream's heartbeat, which moves event time
    past the real rows so the watermark can close their windows and
    flush pending outer-join nulls. Drained results drop them with
    ``user_id >= 0`` on the sink side; inside the streaming plan that
    filter is pushed below the watermark and prunes the heartbeat.

    Literal rows, not ``createDataFrame``: a local Python list becomes a
    Python RDD, and writing it starts Python workers."""
    rows = [
        F.struct(*map(F.lit, (-i, ts, -i, kind, 0.0, "{}")))
        for i, (ts, kind) in enumerate(beats, 1)
    ]
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*rows).cast(_EVENT_ROWS)))


def staged_replay(spark: SparkSession, batches: Sequence[str | DataFrame]) -> DataFrame:
    """Stream ``batches`` one per trigger, in list order. A batch is a
    fixture file path (linked, not copied) or a DataFrame (written as
    one file); the schema is the first batch's.

    The file source takes the oldest modification time first, so each
    written batch's files get a time one second after everything before
    it. A link reports its fixture's time, so links go before the
    written batches."""
    stage = run_tmpdir("stage_")
    last = 0.0
    for i, batch in enumerate(batches):
        path = os.path.join(stage, f"b{i:03d}")
        if isinstance(batch, str):
            os.symlink(batch, path)
            last = max(last, os.path.getmtime(batch))
            continue
        batch.coalesce(1).write.parquet(path)
        last += 1
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (last, last))
    first = batches[0]
    schema = spark.read.parquet(first).schema if isinstance(first, str) else first.schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


def attribution_join(events: DataFrame, how: str) -> DataFrame:
    """Purchases joined to the same user's clicks in the 30 minutes up
    to the purchase, both sides watermarked an hour behind: the
    watermark plus the range bound let Spark expire buffered rows on
    both sides. Columns: purchase_id, user_id, purchase_ts, click_id,
    c_user_id, click_ts.

    Watermarks need TIMESTAMP (local-tz semantics) and the fixture
    column is NTZ; the cast is value-identical under the pinned UTC
    session time zone."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        how,
    )


def drain(stream: DataFrame, mode: str, *, available_now: bool = True) -> DataFrame:
    """Run ``stream`` into a memory sink in output ``mode`` until it has
    consumed all its input, and return what the sink holds.

    ``available_now`` drains with ``Trigger.AvailableNow``, which plans
    the whole backlog against one watermark. ``False`` runs the default
    trigger until ``processAllAvailable`` returns; each micro-batch is
    planned after the one before it ran, so the watermark moves between
    them (late-row dropping, event-time timeouts).

    The query is stopped and its view dropped whatever happens; an error
    in the stream reaches the caller. The returned DataFrame holds the
    sink's resolved plan, so it stays readable after the drop."""
    spark = stream.sparkSession
    name = "drain_" + uuid.uuid4().hex[:8]
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", run_tmpdir("drain_ckpt_"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        if available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def last_update(drained: DataFrame, key: str, counter: str) -> DataFrame:
    """Update mode re-emits a key on every batch that touches it; keep
    each key's last emission, the one with the largest ``counter`` (a
    count that only grows)."""
    w = Window.partitionBy(key).orderBy(F.desc(counter))
    return (
        drained.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
