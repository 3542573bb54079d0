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
AvailableNow stream per entity, whose clean and error writes count
their own rows through Observations, so no zone is read back; the marts
read the clean zones with their known schema and run no action.

Ingest and drain/validate run one task per entity, all entities at
once: the batch is bound by driver latency (planning, py4j, stream
start-up), not by executor work, so independent entities overlap it.
Nothing is shared between entities — each has its own inbox, checkpoint
and zone directories, and its dedup state lives inside its own stream.
Within an entity, ingest writes its files one after another, because
appends to one ``inbox/{entity}`` directory share the commit protocol's
``_temporary/`` staging and collide when they run at once.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from .functions.cleaning import transform_entity
from .operators.entity_rules import ruleset_for
from .operators.quality import RuleSet, reject_duplicates
from .operators.reconcile import source_counts
from .sources.csv import (
    RAW_CSV_LAYOUTS,
    discover_csvs,
    read_entity_csv,
    with_line_numbers,
)
from .streaming.pipeline import (
    ZonePaths,
    clean_zone_schema,
    produce_to_inbox,
    run_inbox_pipeline,
)

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


_R = TypeVar("_R")


def _per_entity(
    spark: SparkSession, entities: list[str], task: Callable[[str], _R]
) -> dict[str, _R]:
    """Run ``task(entity)`` for every entity at once, one thread each,
    and return the results in ``entities`` order. Every task carries the
    caller's job group, local properties and tags. All tasks finish
    before this returns; then the first failing entity's exception (in
    ``entities`` order) is re-raised."""
    if not entities:
        return {}
    with ThreadPoolExecutor(len(entities)) as pool:
        # wrap per task: each wrapper holds its own copy of the local
        # properties, which Spark mutates while a query runs
        futures = {e: pool.submit(inheritable_thread_target(spark)(task), e) for e in entities}
    return {e: f.result() for e, f in futures.items()}


def ingest_csv_dir(
    spark: SparkSession, data_dir: str, zones: ZonePaths, *, run_id: str, source: str = "csv"
) -> dict[str, int]:
    """STEP1: discover entity CSVs and publish envelope-wrapped rows to
    the per-entity inbox. Malformed CSV lines are left out of the inbox
    and of the returned counts. Entities publish concurrently; one
    entity's files publish in discovery order, one after another.
    Beside them, the ICU case mappings the drain's rules need are
    initialised (:func:`_load_case_mappings`)."""
    files: dict[str, list[str]] = {}
    for item in discover_csvs(data_dir):
        if item["entity_type"] is not None:
            files.setdefault(item["entity_type"], []).append(item["file_path"])

    def publish(entity: str) -> int:
        rows = 0
        for path in files[entity]:
            published = Observation()
            ok = (
                with_line_numbers(read_entity_csv(spark, path, entity))
                .filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record")
                .observe(published, F.count(F.lit(1)).alias("rows"))
            )
            produce_to_inbox(
                ok, zones, entity=entity, source=source, run_id=run_id, order_col="_line_no"
            )
            rows += published.get["rows"]
        return rows

    with ThreadPoolExecutor(1) as pool:
        case_mappings = pool.submit(inheritable_thread_target(spark)(_load_case_mappings), spark)
        counts = _per_entity(spark, list(files), publish)
    case_mappings.result()
    return counts


def _load_case_mappings(spark: SparkSession) -> None:
    """Initialise Spark's ICU case mapping. The first ``lower``,
    ``upper`` or ``initcap`` in a JVM fills a table over every Unicode
    code point in a class initializer (~2 s on an idle 4-core box, more
    under load), and every task that evaluates one waits for it. The
    entity rules use all three and ingest uses none, so ingest runs this
    beside its entity tasks and a fresh process's drain does not wait.
    It evaluates over a local relation on the driver: no job."""
    spark.sql("SELECT lower(c) FROM VALUES ('A') AS t(c)").collect()


#: the live SparkContext and the csv RuleSet built for each entity under it
_RULES: tuple[object, dict[str, RuleSet]] = (None, {})
_RULES_LOCK = threading.Lock()


def _entity_rules(spark: SparkSession, entity: str) -> RuleSet:
    """The entity's csv RuleSet, built once per SparkContext. Building
    one costs 1.2k-10k py4j calls (0.2-0.44 s), and every micro-batch of
    every drain validates with it. Private: ``ruleset_for`` keeps
    returning fresh RuleSets a caller may extend."""
    global _RULES
    with _RULES_LOCK:
        if _RULES[0] is not spark.sparkContext:
            _RULES = (spark.sparkContext, {})
        built = _RULES[1]
    rules = built.get(entity)
    if rules is None:
        rules = built.setdefault(entity, ruleset_for(entity, source="csv"))
    return rules


def _transform_validate_dedup(entity: str, df: DataFrame) -> DataFrame:
    """Decoded raw CSV rows → canonical layout, validated by the entity
    RuleSet, then ordered first-wins dedup where the entity is keyed.

    Per-SOURCE validator routing (reference main.py:674-681): the inbox
    carries the CSV feed, so mon rows get mon_csv_rules, which validate
    the RAW layout (price string parseability, the category NAME) BEFORE
    the transform; their _-prefixed verdict columns survive the
    transform's metadata passthrough. Every other entity validates the
    canonical post-transform layout.

    Every entity's ``extract_time`` is the envelope's: the time the
    producer extracted the row. The reference takes P2/P3's from the
    message too, but stamps P1/P5 with ``now()`` at transform time, which
    is later by at most one batch's queue latency. A per-batch clock
    value would also be inlined into each batch's generated code and
    recompiled every batch."""
    rules = _entity_rules(df.sparkSession, entity)
    et = F.col("_extract_time")
    if rules.entity == "mon_csv":
        validated = transform_entity(entity, rules.validate(df), extract_time=et)
    else:
        validated = rules.validate(transform_entity(entity, df, extract_time=et))
    keys = DEDUP_KEYS.get(entity)
    if keys:
        validated = reject_duplicates(
            validated.drop("_is_valid"),
            keys,
            [F.col("_line_no").asc_nulls_last()],
            f"duplicate {keys[0]}",
        )
    return validated


def _raw_schema(entity: str) -> T.StructType:
    """The envelope payload: the entity's RAW CSV layout, all strings."""
    return T.StructType([T.StructField(c, T.StringType()) for c in RAW_CSV_LAYOUTS[entity]])


#: entity → its clean-zone schema; it depends on the code only
_CLEAN_SCHEMAS: dict[str, T.StructType] = {}


def _clean_schema(spark: SparkSession, entity: str) -> T.StructType:
    """The schema of the entity's clean zone, derived once per process
    from the validator the drain uses (``clean_zone_schema``). The
    marts read the zone with it: inferring it costs a job per entity."""
    schema = _CLEAN_SCHEMAS.get(entity)
    if schema is None:
        validate = partial(_transform_validate_dedup, entity)
        schema = _CLEAN_SCHEMAS.setdefault(
            entity, clean_zone_schema(spark, _raw_schema(entity), validate)
        )
    return schema


def drain_and_validate(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, dict[str, int]]:
    """STEP2+3+4 fused: per entity, drain the inbox exactly once
    (AvailableNow), transform to the canonical layout, validate with
    the entity RuleSet (+ ordered dedup where keyed), split into
    clean/error parquet zones, and count both zones from the writes
    (``run_inbox_pipeline``).

    Entities drain concurrently, each as its own checkpointed stream.
    That is safe because an entity's inbox, checkpoint and zone paths
    are its own, and its first-wins dedup state lives in its own
    stream. If an entity fails, every other entity's stream still runs
    to its end; then the first failing entity's exception is raised, so
    no stream is left running. Each entity's thread also derives the
    clean-zone schema :func:`build_marts` reads with, off the marts'
    critical path."""

    def drain(entity: str) -> dict[str, int]:
        _clean_schema(spark, entity)
        return run_inbox_pipeline(
            spark,
            zones,
            entity=entity,
            data_schema=_raw_schema(entity),
            validate=partial(_transform_validate_dedup, entity),
        )

    return _per_entity(spark, entities, drain)


def build_marts(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, DataFrame]:
    """Post-hoc layer: merged views (the clean zone's ``_source``
    lineage becomes the merged view's ``source`` tag) + per-source count
    report over the clean zone — the first marts the reference builds in
    SQL Server. DWH star builds continue from these via operators.dwh.
    Lazy: each zone is read with its known schema, so no job runs."""
    marts: dict[str, DataFrame] = {}
    for entity in entities:
        merged = (
            spark.read.schema(_clean_schema(spark, entity))
            .parquet(os.path.join(zones.clean, entity))
            .withColumnRenamed("_source", "source")
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


_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("entity", T.StringType()),
        T.StructField("ingested", T.LongType()),
        T.StructField("clean", T.LongType()),
        T.StructField("error", T.LongType()),
        T.StructField("recorded_at", T.TimestampType()),
    ]
)


def record_run_history(spark: SparkSession, out_root: str, run: PipelineRun) -> None:
    """A4 across runs: append one row per (run, entity) with ingest and
    zone counts to a queryable history table — the reference keeps this
    only in per-run log files (pipeline_run_*.log); here it is a
    partitioned parquet table any monitoring query can scan."""
    rows = [
        F.struct(
            *map(
                F.lit,
                (
                    run.run_id,
                    entity,
                    run.ingested.get(entity, 0),
                    counts.get("clean", 0),
                    counts.get("error", 0),
                ),
            ),
            F.current_timestamp(),
        )
        for entity, counts in sorted(run.zone_counts.items())
    ]
    if not rows:
        return
    # literal rows, not createDataFrame: a local Python list becomes a
    # Python RDD, and writing it starts Python workers. recorded_at is in
    # the rows: the array folds to one literal that generated code holds
    # by reference, where a timestamp column would be inlined per run
    df = spark.range(1, numPartitions=1).select(
        F.inline(F.array(*rows).cast(T.ArrayType(_HISTORY_SCHEMA)))
    )
    df.write.mode("append").partitionBy("run_id").parquet(
        os.path.join(out_root, "run_history")
    )


def run_history(spark: SparkSession, out_root: str):
    """Scan the cross-run history (monitoring surface)."""
    return spark.read.parquet(os.path.join(out_root, "run_history"))
