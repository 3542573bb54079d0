"""Sink operators (reference K1-K8): zone writes, failure logs, bulk
JDBC loads — as DataFrame writer plans.

Zone layout matches the medallion-style dirs the reference keeps
(staging/raw|clean|error, STEP3_QUALITY_ENGINE.py:29-35) but lands
PARQUET partitioned by (entity, source, run_id) instead of per-run CSV
files with encoded filenames (STEP2_RAW_CONSUMER.py:143-148): the
filename-parsing operator P9 becomes partition pruning, and a 100 TB
zone stays scannable without listing millions of files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: K8 per-entity "important fields" projection for failure reports
#: (FailedDataLogger, main.py:326-357).
IMPORTANT_FIELDS: dict[str, list[str]] = {
    "khach_hang": ["customer_id", "ho_ten", "email"],
    "loai_mon": ["ma_loai", "ten_loai"],
    "mon": ["ten_mon", "gia", "loai_id"],
    "nguyen_lieu": ["ma_nguyen_lieu", "ten_nguyen_lieu", "so_luong"],
    "dat_hang": ["khach_hang_id", "mon_id", "so_luong", "trang_thai"],
}


def zone_write(
    df: DataFrame,
    zone_root: str,
    zone: str,
    *,
    entity: str,
    source: str,
    run_id: str,
) -> str:
    """K2/K3: append one entity×source×run slice into a zone as
    partitioned parquet. Lineage becomes partition COLUMNS (pruned at
    read; the reference parses them back out of filenames, P9)."""
    out = os.path.join(zone_root, zone)
    (
        df.withColumn("entity", F.lit(entity))
        .withColumn("source", F.lit(source))
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("entity", "source", "run_id")
        .parquet(out)
    )
    return out


def read_zone(
    spark: SparkSession,
    zone_root: str,
    zone: str,
    *,
    entity: str | None = None,
    source: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """Zone scan with partition pruning (filters on entity/source/run_id
    never touch non-matching files)."""
    df = spark.read.parquet(os.path.join(zone_root, zone))
    for col, val in (("entity", entity), ("source", source), ("run_id", run_id)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df


def error_zone_write(
    error_df: DataFrame,
    zone_root: str,
    *,
    entity: str,
    source: str,
    run_id: str,
) -> str:
    """K3+K8: error rows land twice conceptually in the reference
    (error zone + failure log); here one write serves both — the
    failure-log projection is :func:`failed_data_view` at read time."""
    return zone_write(
        error_df, zone_root, "error", entity=entity, source=source, run_id=run_id
    )


def failed_data_view(error_df: DataFrame, entity: str) -> DataFrame:
    """K8 FailedDataLogger projection: (time, entity, errors, important
    fields) — a select over the error zone, not a second sink."""
    cols = [c for c in IMPORTANT_FIELDS.get(entity, []) if c in error_df.columns]
    return error_df.select(
        F.current_timestamp().alias("log_time"),
        F.lit(entity).alias("entity"),
        F.col("_errors").alias("errors"),
        *cols,
    )


def compact_zone(
    spark: SparkSession,
    zone_root: str,
    zone: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, int]:
    """Small-file compaction for streaming-appended zones: each
    micro-batch append leaves one-or-more files per partition; over
    days a 100 TB zone accumulates millions of tiny files and scan
    planning dominates runtime. Rewrites each (entity, source, run_id)
    partition whose file count exceeds ``min_files`` into
    ``ceil(bytes / target_file_bytes)`` files via a staging directory
    swapped in with two renames. Single-writer, no-concurrent-reader
    assumption: a reader between the renames sees the partition
    missing, and the pair is not atomic — a table format with atomic
    commits (Delta/Iceberg) is required for reader-safe compaction.

    Returns {partition_path: files_before} for the partitions rewritten.
    OPTIMIZE-style table formats replace this at full scale; the
    operator IS the fallback when only parquet directories exist."""
    import glob as _glob
    import shutil

    base = os.path.join(zone_root, zone)
    rewritten: dict[str, int] = {}
    for part_dir in sorted(
        _glob.glob(os.path.join(base, "entity=*", "source=*", "run_id=*"))
    ):
        files = [
            f
            for f in _glob.glob(os.path.join(part_dir, "*.parquet"))
            if os.path.isfile(f)
        ]
        if len(files) <= min_files:
            continue
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        staged = part_dir + "._compact"
        (
            spark.read.parquet(part_dir)
            .repartition(int(n_out))
            .write.mode("overwrite")
            .parquet(staged)
        )
        old = part_dir + "._old"
        os.rename(part_dir, old)
        os.rename(staged, part_dir)
        shutil.rmtree(old, ignore_errors=True)
        rewritten[part_dir] = len(files)
    return rewritten


def expire_zone_runs(
    zone_root: str,
    zone: str,
    *,
    keep_last: int | None = None,
    drop_run_ids: list[str] | None = None,
) -> list[str]:
    """Retention/TTL on a zone (the medallion counterpart of the
    reference's per-run DB_{run_id} databases piling up forever): remove
    whole ``run_id=`` partition directories, either an explicit list
    (``drop_run_ids``) or everything but the newest ``keep_last``
    distinct run ids (run ids are timestamp-prefixed in the pipeline, so
    lexicographic order IS age order).

    Pure driver-side metadata work — directory listing + removes, no
    data scan; at 100 TB the same listing is an object-store prefix
    delete. Single-writer, no-concurrent-reader assumption (same as
    compact_zone). Returns the removed directories."""
    import glob as _glob
    import shutil

    if (keep_last is None) == (drop_run_ids is None):
        raise ValueError("pass exactly one of keep_last / drop_run_ids")
    base = os.path.join(zone_root, zone)
    run_dirs = sorted(_glob.glob(os.path.join(base, "entity=*", "source=*", "run_id=*")))
    by_run: dict[str, list[str]] = {}
    for d in run_dirs:
        by_run.setdefault(os.path.basename(d).split("=", 1)[1], []).append(d)
    if drop_run_ids is not None:
        doomed = [r for r in by_run if r in set(drop_run_ids)]
    else:
        doomed = sorted(by_run)[: max(len(by_run) - keep_last, 0)]
    removed = []
    for r in doomed:
        for d in by_run[r]:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
    return removed


def jdbc_bulk_insert(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batchsize: int = 1000,
    mode: str = "append",
) -> None:
    """K4: batched bulk insert (reference executemany batch=1000 with
    commit-per-batch, etl/db/sql_client.py:118-194) → JDBC writer with
    ``batchsize``. Divergence (SURVEY.md §4): the reference skips a
    failed batch and continues; Spark task retry is all-or-nothing —
    pre-validate rows (the quality engine's job) instead of relying on
    partial-batch recovery. Gated: needs a reachable RDBMS + driver jar."""
    props = {"batchsize": str(batchsize)}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    if driver is not None:
        props["driver"] = driver
    df.write.mode(mode).jdbc(url, table, properties=props)
