"""Message envelope: the JSON record wrapper the reference publishes to
its queues (``{source, entity_type, data, metadata}``, main.py:524-532 /
STEP1_PRODUCER.py:94-103), re-expressed as typed columns.

Spark-first: the envelope is ``to_json(struct(...))`` on the way out and
``from_json`` with an explicit schema on the way in — no hand-rolled
type coercion (the reference needs a custom JSON encoder for
datetime/Decimal/bytes, etl/utils/json_encoder.py:10-57; Spark's
to_json/from_json handle those natively)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The text ``to_json`` writes for a timestamp (the JSON writer's
#: default ``timestampFormat``), as a ``date_format`` pattern.
JSON_TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

#: Lineage metadata carried by every message (reference
#: STEP2_RAW_CONSUMER.py:154,171-174 flattens exactly these).
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType()),
        T.StructField("extract_time", T.TimestampType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("line_no", T.LongType()),
    ]
)


def envelope_schema(data_schema: T.StructType) -> T.StructType:
    """Full envelope schema for one entity's payload."""
    return T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("entity_type", T.StringType()),
            T.StructField("data", data_schema),
            T.StructField("metadata", METADATA_SCHEMA),
        ]
    )


def encode_envelope(
    df: DataFrame,
    *,
    source: str,
    entity_type: str,
    run_id: str,
    order_col: str | Column | None = None,
) -> DataFrame:
    """Wrap every row of ``df`` into a one-column DataFrame
    ``value: string`` holding the JSON envelope (the queue-publish
    payload, K1). ``order_col`` becomes ``metadata.line_no`` — the
    explicit ingestion order that downstream first-wins dedup needs
    (Spark has no implicit row order)."""
    line_no = (
        F.col(order_col) if isinstance(order_col, str) else order_col
    ) if order_col is not None else F.monotonically_increasing_id()
    # payload carries BUSINESS columns only; lineage (_-prefixed) rides
    # in metadata — decode would otherwise collide restoring _line_no
    data_cols = [c for c in df.columns if not c.startswith("_")]
    payload = F.struct(
        F.lit(source).alias("source"),
        F.lit(entity_type).alias("entity_type"),
        F.struct(*[F.col(c) for c in data_cols]).alias("data"),
        F.struct(
            F.lit(None).cast("string").alias("origin"),
            # the string to_json writes for a timestamp: it folds to a
            # string literal, which generated code holds by reference, so
            # the batch's classes do not change with the clock
            F.date_format(F.current_timestamp(), JSON_TIMESTAMP_FORMAT).alias("extract_time"),
            F.lit(run_id).alias("run_id"),
            line_no.cast("long").alias("line_no"),
        ).alias("metadata"),
    )
    return df.select(F.to_json(payload).alias("value"))


def decode_envelope(raw: DataFrame, data_schema: T.StructType) -> DataFrame:
    """Parse envelope JSON lines (column ``value``) and flatten to
    ``data.* + _source/_extract_time/_run_id/_line_no`` — the raw-zone
    landing layout (K2). Unparseable lines (poison messages) keep a
    NULL ``_envelope`` and surface through ``_corrupt = true`` so the
    caller can dead-letter them (reference nack/requeue=False,
    main.py:716-720) instead of killing the stream."""
    parsed = raw.withColumn(
        "_envelope", F.from_json("value", envelope_schema(data_schema))
    )
    ok = parsed.withColumn(
        "_corrupt",
        F.col("_envelope").isNull() | F.col("_envelope.data").isNull(),
    )
    flat = ok.select(
        F.col("value"),
        F.col("_corrupt"),
        F.col("_envelope.data.*"),
        F.col("_envelope.source").alias("_source"),
        F.col("_envelope.metadata.extract_time").alias("_extract_time"),
        F.col("_envelope.metadata.run_id").alias("_run_id"),
        F.col("_envelope.metadata.line_no").alias("_line_no"),
    )
    return flat
