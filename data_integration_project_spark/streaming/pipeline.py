"""File-inbox streaming pipeline: the reference's produce → queue →
consume → validate → load loop (RUN_ALL_STEPS.py:73-89, main.py:387-429)
as Structured Streaming.

Mapping (SURVEY.md §2.10):

- durable queue + persistent publish (K1)  → JSON-line files in an
  inbox directory per entity (a Kafka topic at cluster scale — the
  code path is identical, only ``format`` changes)
- bounded drain of current queue depth (S9) → ``Trigger.AvailableNow``
- manual ack / at-least-once              → checkpointed exactly-once
  (an upgrade the reference can't express)
- poison message nack(requeue=False)      → corrupt rows routed to the
  error zone, stream keeps running
- per-queue sequential dedup state (V2)   → explicit
  ``metadata.line_no`` + first-wins window inside ``foreachBatch``

Every transformation is a DataFrame op; ``foreachBatch`` only wires the
validated micro-batch to its two zone sinks.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.quality import split_validated
from .envelope import decode_envelope, encode_envelope


@dataclass
class ZonePaths:
    """Medallion-style zone layout (reference staging/raw|clean|error)."""

    root: str

    @property
    def inbox(self) -> str:
        return os.path.join(self.root, "inbox")

    @property
    def clean(self) -> str:
        return os.path.join(self.root, "clean")

    @property
    def error(self) -> str:
        return os.path.join(self.root, "error")

    @property
    def checkpoints(self) -> str:
        return os.path.join(self.root, "_checkpoints")


def produce_to_inbox(
    df: DataFrame,
    zones: ZonePaths,
    *,
    entity: str,
    source: str,
    run_id: str,
    order_col: str | None = None,
) -> None:
    """STEP1 producer analogue (K1): envelope-wrap and append JSON lines
    to ``inbox/{entity}``. Text format keeps the payload inspectable and
    byte-identical to a queue message body."""
    enveloped = encode_envelope(
        df, source=source, entity_type=entity, run_id=run_id, order_col=order_col
    )
    enveloped.write.mode("append").text(os.path.join(zones.inbox, entity))


def _rows(decoded: DataFrame) -> DataFrame:
    """The decoded rows that parsed, without the envelope columns."""
    return decoded.filter(~F.col("_corrupt")).drop("value", "_corrupt")


def consume_inbox(
    spark: SparkSession,
    zones: ZonePaths,
    *,
    entity: str,
    data_schema: T.StructType,
    validate: Callable[[DataFrame], DataFrame] | None = None,
    counts: dict[str, int],
):
    """STEP2+3 consumer analogue (S9 + V1-V3 + K2/K3): stream the
    entity's inbox, decode envelopes, validate, split clean/error, and
    append both zones as parquet — one checkpointed query,
    ``Trigger.AvailableNow`` (drain what exists, then stop). Poison
    envelopes go to ``error/{entity}_poison`` as JSON.

    ``validate`` maps the decoded rows to rows carrying ``_is_valid``
    and an ``_errors`` array (a RuleSet's ``validate``, optionally
    followed by first-wins dedup); without it every decoded row is
    clean. Each micro-batch adds the rows it appends to
    ``counts["clean"]`` and ``counts["error"]``, counted by an
    Observation on the write itself. Returns the started
    StreamingQuery; callers ``awaitTermination()``.
    """
    raw = spark.readStream.format("text").load(os.path.join(zones.inbox, entity))

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # the micro-batch feeds three sinks (clean/error/poison) —
        # decode+validate once, not once per sink. The poison count is
        # observed under the cache: it reports when the first write
        # builds the cache.
        n_poison = Observation()
        decoded = (
            decode_envelope(batch, data_schema)
            .observe(n_poison, F.count_if("_corrupt").alias("rows"))
            .persist()
        )
        cached = [decoded]
        try:
            rows = _rows(decoded)
            if validate is None:
                sinks = {"clean": rows}
            else:
                validated = validate(rows).persist()
                cached.append(validated)
                sinks = dict(zip(("clean", "error"), split_validated(validated)))
            for zone, df in sinks.items():
                written = Observation()
                df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
                    "append"
                ).parquet(os.path.join(getattr(zones, zone), entity))
                counts[zone] += written.get["rows"]
            if n_poison.get["rows"] > 0:
                decoded.filter(F.col("_corrupt")).select(
                    F.col("value").alias("_raw_value"),
                    F.lit("unparseable envelope").alias("_errors"),
                ).write.mode("append").json(os.path.join(zones.error, f"{entity}_poison"))
        finally:
            for df in cached:  # one leaked cache per batch adds up on a long stream
                df.unpersist()

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(zones.checkpoints, entity))
        .trigger(availableNow=True)
        .start()
    )


def run_inbox_pipeline(
    spark: SparkSession,
    zones: ZonePaths,
    *,
    entity: str,
    data_schema: T.StructType,
    validate: Callable[[DataFrame], DataFrame] | None = None,
) -> dict[str, int]:
    """Drain the inbox to completion and report zone row counts —
    the bounded consume-exactly-queue-depth loop (main.py:643-730).

    A zone's count is its rows before the drain plus the rows this drain
    appended, which the writes count as they run: a zone is read only
    if it exists, i.e. an earlier drain wrote it. A zone that was never
    written counts from 0; a read failure of an existing zone raises."""
    counts = {}
    for zone in ("clean", "error"):
        path = os.path.join(getattr(zones, zone), entity)
        counts[zone] = spark.read.parquet(path).count() if _exists(spark, path) else 0
    consume_inbox(
        spark, zones, entity=entity, data_schema=data_schema, validate=validate, counts=counts
    ).awaitTermination()
    return counts


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on its Hadoop filesystem. Reading a
    missing path fails too, but Spark logs a stack trace for it first."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def clean_zone_schema(
    spark: SparkSession,
    data_schema: T.StructType,
    validate: Callable[[DataFrame], DataFrame],
) -> T.StructType:
    """The schema a reader infers from the clean zone that a drain with
    ``validate`` writes: the clean rows' schema with every field
    nullable, as file writes store it. Derived from the plan over an
    empty inbox; runs no job."""
    empty = spark.range(0).select(F.lit(None).cast("string").alias("value"))
    clean, _ = split_validated(validate(_rows(decode_envelope(empty, data_schema))))
    return _nullable(clean.schema)


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


# ---------------------------------------------------------------------------
# Event-time windowed aggregation (extension beyond parity — the
# reference has no event-time processing at all, SURVEY.md §2.10)
# ---------------------------------------------------------------------------


def streaming_window_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type over an event-time
    column ``ts``. Works identically on a batch or streaming DataFrame;
    with a watermark, late data beyond the bound is dropped and window
    state is reclaimed — the 100 TB/day streaming shape."""
    src = events.withWatermark("ts", watermark) if (watermark and events.isStreaming) else events
    return (
        src.groupBy(F.window("ts", window).alias("_w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact-decimal sum → double: order-independent, oracle-exact
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
