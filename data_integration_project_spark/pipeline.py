"""Full-pipeline orchestration — the reference's ``RUN_ALL_STEPS.py`` /
``main.py`` drivers as one composable API over the streaming inbox
helpers (``streaming.pipeline``).

Reference step → engine stage:

1. STEP1 producer (CSV discovery + publish, RUN_ALL_STEPS.py:120-157)
   → :func:`ingest_csv_dir`: discover entity CSVs, permissive-scan,
   envelope-wrap into the streaming inbox.
2. STEP2 raw consumer (bounded drain → raw zone, :159-196)
   + STEP3 quality engine (validate/split, :198-237)
   → :func:`drain_and_validate`: one checkpointed AvailableNow stream
   per entity lands raw rows, runs the entity RuleSet + ordered
   first-wins dedup inside foreachBatch, writes clean/error zones.
3. STEP4 transform+load (:239-276) → transforms run INSIDE the drain
   (the reference's "pipeline mode" memory handoff is simply lazy
   evaluation here); the load target is the partitioned parquet
   staging zone (JDBC via operators.sinks.jdbc_bulk_insert when a
   warehouse is reachable).
4. Post-hoc SQL layer (merged views / reconciliation / DWH) →
   :func:`build_marts`: merged views + conflict queries + star build
   over the clean zone.

A ``run_id`` scopes every output path (reference ``DB_{run_id}``).
Each stage returns DataFrames/paths so callers can stop anywhere.
Driver actions per stage: ingest runs one write per CSV, which also
counts the good rows through an Observation; drain/validate runs one
AvailableNow stream per entity, then counts its clean and error zones;
the marts are lazy and run no action.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.cleaning import transform_entity
from .operators.entity_rules import ruleset_for
from .operators.quality import reject_duplicates
from .operators.reconcile import source_counts
from .sources.csv import (
    RAW_CSV_LAYOUTS,
    discover_csvs,
    read_entity_csv,
    with_line_numbers,
)
from .streaming.pipeline import ZonePaths, produce_to_inbox, run_inbox_pipeline

#: natural key per entity for the ordered first-wins dedup (V2)
DEDUP_KEYS: dict[str, list[str]] = {
    "khach_hang": ["customer_id"],
    "loai_mon": ["ma_loai"],
    "nguyen_lieu": ["ma_nguyen_lieu"],
}


@dataclass
class PipelineRun:
    run_id: str
    zones: ZonePaths
    ingested: dict[str, int] = field(default_factory=dict)
    zone_counts: dict[str, dict[str, int]] = field(default_factory=dict)


def ingest_csv_dir(
    spark: SparkSession, data_dir: str, zones: ZonePaths, *, run_id: str, source: str = "csv"
) -> dict[str, int]:
    """STEP1: discover entity CSVs and publish envelope-wrapped rows to
    the per-entity inbox. Malformed CSV lines are left out of the inbox
    and of the returned counts."""
    counts: dict[str, int] = {}
    for item in discover_csvs(data_dir):
        entity = item["entity_type"]
        if entity is None:
            continue
        published = Observation()
        ok = (
            with_line_numbers(read_entity_csv(spark, item["file_path"], entity))
            .filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record")
            .observe(published, F.count(F.lit(1)).alias("rows"))
        )
        produce_to_inbox(
            ok, zones, entity=entity, source=source, run_id=run_id, order_col="_line_no"
        )
        counts[entity] = counts.get(entity, 0) + published.get["rows"]
    return counts


def _transform_validate_dedup(entity: str, df: DataFrame) -> DataFrame:
    """Decoded raw CSV rows → canonical layout, validated by the entity
    RuleSet, then ordered first-wins dedup where the entity is keyed.

    Per-SOURCE validator routing (reference main.py:674-681): the inbox
    carries the CSV feed, so mon rows get mon_csv_rules, which validate
    the RAW layout (price string parseability, the category NAME) BEFORE
    the transform; their _-prefixed verdict columns survive the
    transform's metadata passthrough. Every other entity validates the
    canonical post-transform layout."""
    rules = ruleset_for(entity, source="csv")
    if rules.entity == "mon_csv":
        validated = transform_entity(entity, rules.validate(df))
    else:
        validated = rules.validate(transform_entity(entity, df))
    keys = DEDUP_KEYS.get(entity)
    if keys:
        validated = reject_duplicates(
            validated.drop("_is_valid"),
            keys,
            [F.col("_line_no").asc_nulls_last()],
            f"duplicate {keys[0]}",
        )
    return validated


def drain_and_validate(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, dict[str, int]]:
    """STEP2+3+4 fused: per entity, drain the inbox exactly once
    (AvailableNow), transform to the canonical layout, validate with
    the entity RuleSet (+ ordered dedup where keyed), split into
    clean/error parquet zones, and count both zones. Entities drain one
    after another, each as its own checkpointed stream."""
    return {
        entity: run_inbox_pipeline(
            spark,
            zones,
            entity=entity,
            # the envelope payload is the RAW CSV layout (all strings)
            data_schema=T.StructType(
                [T.StructField(c, T.StringType()) for c in RAW_CSV_LAYOUTS[entity]]
            ),
            validate=partial(_transform_validate_dedup, entity),
        )
        for entity in entities
    }


def build_marts(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, DataFrame]:
    """Post-hoc layer: merged views (the clean zone's ``_source``
    lineage becomes the merged view's ``source`` tag) + per-source count
    report over the clean zone — the first marts the reference builds in
    SQL Server. DWH star builds continue from these via operators.dwh."""
    marts: dict[str, DataFrame] = {}
    for entity in entities:
        merged = spark.read.parquet(os.path.join(zones.clean, entity)).withColumnRenamed(
            "_source", "source"
        )
        merged.createOrReplaceTempView(f"{entity}_merged")
        marts[f"{entity}_merged"] = merged
        marts[f"{entity}_source_counts"] = source_counts(merged)
    return marts


def run_full_pipeline(
    spark: SparkSession, data_dir: str, out_root: str, *, run_id: str
) -> PipelineRun:
    """The RUN_ALL_STEPS entry point: ingest → drain/validate → marts.
    Returns per-stage counts for the monitoring layer (A4)."""
    zones = ZonePaths(os.path.join(out_root, f"run_{run_id}"))
    run = PipelineRun(run_id=run_id, zones=zones)
    run.ingested = ingest_csv_dir(spark, data_dir, zones, run_id=run_id)
    run.zone_counts = drain_and_validate(spark, zones, sorted(run.ingested))
    build_marts(spark, zones, sorted(run.ingested))
    record_run_history(spark, out_root, run)
    return run


def record_run_history(spark: SparkSession, out_root: str, run: PipelineRun) -> None:
    """A4 across runs: append one row per (run, entity) with ingest and
    zone counts to a queryable history table — the reference keeps this
    only in per-run log files (pipeline_run_*.log); here it is a
    partitioned parquet table any monitoring query can scan."""
    rows = [
        (
            run.run_id,
            entity,
            run.ingested.get(entity, 0),
            counts.get("clean", 0),
            counts.get("error", 0),
        )
        for entity, counts in sorted(run.zone_counts.items())
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "run_id string, entity string, ingested long, clean long, error long"
    ).withColumn("recorded_at", F.current_timestamp())
    df.write.mode("append").partitionBy("run_id").parquet(
        os.path.join(out_root, "run_history")
    )


def run_history(spark: SparkSession, out_root: str):
    """Scan the cross-run history (monitoring surface)."""
    return spark.read.parquet(os.path.join(out_root, "run_history"))
