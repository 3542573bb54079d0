"""Star-schema DWH build operators (reference ``sql/create_dwh_tables.sql``):
date dimension, surrogate keys, SCD Type 2 merge, fact construction.

Scale notes: surrogate keys are assigned by a deterministic
``row_number`` over the natural key — a single shuffle; at 100 TB
dimension scale you'd switch to ``monotonically_increasing_id`` +
stable hashing or a key registry. SCD2 is a full merge-and-rewrite of
the dimension (dims are small relative to facts); Delta/Iceberg
``MERGE INTO`` is the incremental answer when a table format is on the
classpath.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import dim_date_columns


def build_dim_date(spark: SparkSession, start: str, end: str) -> DataFrame:
    """dim_date generator (create_dwh_tables.sql:112-127): one row per
    calendar day in [start, end], all attributes derived (no driver-side
    loop — ``sequence`` + ``explode`` stays in the JVM)."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    return days.select(*dim_date_columns(F.col("d")))


#: Fixed-date holiday calendar (the reference's business domain is a
#: Vietnamese coffee shop; its DDL carries is_holiday but defaults it
#: to 0 — create_dwh_tables.sql:125). Lunar holidays (Tet) need a
#: lunisolar table and stay out of scope.
FIXED_HOLIDAYS: list[tuple[int, int, str]] = [
    (1, 1, "New Year"),
    (4, 30, "Reunification Day"),
    (5, 1, "Labour Day"),
    (9, 2, "National Day"),
]


def with_holiday_calendar(
    dim_date: DataFrame,
    holidays: list[tuple[int, int, str]] = FIXED_HOLIDAYS,
) -> DataFrame:
    """Apply a data-driven holiday calendar to dim_date: broadcast-join
    the (month, day) holiday table, overriding ``is_holiday`` and
    adding ``holiday_name``. A join (not a hardcoded CASE) because
    calendars are per-country data that changes without code edits."""
    spark = dim_date.sparkSession
    hol = spark.createDataFrame(
        holidays, ["_hmonth", "_hday", "holiday_name"]
    )
    joined = dim_date.drop("is_holiday").join(
        F.broadcast(hol),
        (F.col("month") == F.col("_hmonth"))
        & (F.col("day_of_month") == F.col("_hday")),
        "left",
    )
    return joined.withColumn(
        "is_holiday", F.col("holiday_name").isNotNull().cast("int")
    ).drop("_hmonth", "_hday")


def scd2_init(
    snapshot: DataFrame, valid_from: str, *, from_col="valid_from", to_col="valid_to", cur_col="is_current"
) -> DataFrame:
    """Open an initial SCD2 dimension from a full snapshot
    (create_dwh_tables.sql:29-32 valid_from/valid_to/is_current)."""
    return (
        snapshot.withColumn(from_col, F.lit(valid_from).cast("date"))
        .withColumn(to_col, F.lit(None).cast("date"))
        .withColumn(cur_col, F.lit(True))
    )


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_date: str,
    *,
    from_col="valid_from",
    to_col="valid_to",
    cur_col="is_current",
) -> DataFrame:
    """SCD Type 2 merge without a mutable store (SURVEY.md §7 hard part):

    * current rows whose tracked attributes changed → closed
      (``valid_to = effective_date``, ``is_current = false``);
    * changed + brand-new keys → opened as the new current version;
    * unchanged current rows and historical rows pass through.

    One join on the key (round-9, guide §1.1/§1.2: was TWO mirror
    left joins whose union scanned the dimension three times and the
    updates twice — now one FULL OUTER join emits untouched, closed
    and opened rows from a single pass via an exploded CASE; the row
    multiset is identical branch-by-branch, including the degenerate
    duplicate-update-key multiplicity); the dimension is rewritten
    wholesale (idempotent, deterministic — no ``dropDuplicates``).
    """
    eff = F.lit(effective_date).cast("date")
    meta = [from_col, to_col, cur_col]
    upd = updates.select(key, *tracked)

    current = dim.filter(F.col(cur_col))
    history = dim.filter(~F.col(cur_col))

    joined = current.withColumn("_in_cur", F.lit(True)).join(
        upd.select(
            F.col(key),
            *[F.col(c).alias(f"_u_{c}") for c in tracked],
            F.lit(True).alias("_in_upd"),
        ),
        key,  # USING join: `key` coalesces across the full outer
        "full_outer",
    )
    in_cur = F.coalesce(F.col("_in_cur"), F.lit(False))
    in_upd = F.coalesce(F.col("_in_upd"), F.lit(False))
    # differs==NULL means the key is absent from updates
    differs = F.coalesce(
        ~F.expr(" AND ".join(f"{c} <=> _u_{c}" for c in tracked)), F.lit(False)
    )

    untouched_r = F.struct(
        *[F.col(c).alias(c) for c in tracked],
        *[F.col(c).alias(c) for c in meta],
    )
    closed_r = F.struct(
        *[F.col(c).alias(c) for c in tracked],
        F.col(from_col).alias(from_col),
        eff.alias(to_col),
        F.lit(False).alias(cur_col),
    )
    opened_r = F.struct(
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        eff.alias(from_col),
        F.lit(None).cast("date").alias(to_col),
        F.lit(True).alias(cur_col),
    )
    rows = (
        F.when(in_cur & in_upd & differs, F.array(closed_r, opened_r))
        .when(in_cur, F.array(untouched_r))  # no update, or update equal
        .otherwise(F.array(opened_r))  # brand-new key
    )
    cols = [key, *tracked, *meta]
    merged = joined.select(key, F.explode(rows).alias("_r")).select(
        key, *[F.col(f"_r.{c}") for c in [*tracked, *meta]]
    )
    return history.select(*cols).unionByName(merged.select(*cols))


def _bucket_of(key: str, n_buckets: int) -> Column:
    """Deterministic dimension bucket: stable hash of the natural key
    (cast to string so int/string keys bucket identically)."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets))


def write_dim_bucketed(
    dim: DataFrame,
    path: str,
    key: str,
    *,
    n_buckets: int = 64,
    bucket_col: str = "_bucket",
) -> None:
    """Persist a dimension hash-bucketed on its natural key
    (``bucket=0..n-1`` partition directories). The bucket is the
    MERGE pruning unit: an incremental merge touches only the buckets
    whose keys changed, never the whole dimension."""
    # round-9 (guide §6): align write tasks to the bucket layout — one
    # file per bucket directory instead of (scan tasks × buckets) small
    # files; the bucket dir is the pruning/merge unit, so one file per
    # bucket IS the sensible output sizing here
    dim.withColumn(bucket_col, _bucket_of(key, n_buckets)).repartition(
        n_buckets, F.col(bucket_col)
    ).write.mode("overwrite").partitionBy(bucket_col).parquet(path)


def scd2_merge_incremental(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_date: str,
    *,
    n_buckets: int = 64,
    bucket_col: str = "_bucket",
    from_col="valid_from",
    to_col="valid_to",
    cur_col="is_current",
) -> list[int]:
    """``MERGE INTO`` emulation on plain parquet (the incremental SCD2
    the reference lacks; Delta/Iceberg MERGE replaces this when a table
    format is on the classpath):

    1. bucket the update keys; the distinct affected-bucket list is
       driver metadata (≤ n_buckets small ints, never row data);
    2. read ONLY those buckets — a partition-pruned scan (the plan's
       PartitionFilters carry ``_bucket IN (...)``);
    3. run the standard :func:`scd2_merge` on the slice;
    4. dynamic-partition-overwrite exactly those bucket directories.

    Cost scales with |changed keys|' bucket coverage, not dimension
    size: at a 10 TB dimension with 1k buckets, a 0.1% daily delta
    rewrites ~tens of buckets. Returns the affected bucket ids.

    The merged slice is localCheckpoint-ed before the write because the
    output path is also the input path (Spark refuses a self-overwrite
    otherwise). Single writer, no concurrent reader: a reader during the
    overwrite sees the affected buckets half rewritten."""
    upd = updates.withColumn(bucket_col, _bucket_of(key, n_buckets))
    affected = sorted(
        r[0] for r in upd.select(bucket_col).distinct().collect()
    )
    if not affected:
        return []
    dim_slice = (
        spark.read.parquet(path)
        .filter(F.col(bucket_col).isin([int(b) for b in affected]))
        .drop(bucket_col)
    )
    merged = scd2_merge(
        dim_slice,
        upd.drop(bucket_col),
        key,
        tracked,
        effective_date,
        from_col=from_col,
        to_col=to_col,
        cur_col=cur_col,
    ).withColumn(bucket_col, _bucket_of(key, n_buckets))
    # round-9 (guide §6): one write task per affected bucket — the
    # rewrite emits exactly one file per bucket directory (was: every
    # merge task writing a sliver into every affected bucket)
    merged = merged.repartition(len(affected), F.col(bucket_col))
    merged = merged.localCheckpoint(eager=True)  # break lineage to `path`
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(bucket_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return [int(b) for b in affected]


def read_dim_bucketed(
    spark: SparkSession, path: str, bucket_col: str = "_bucket"
) -> DataFrame:
    """Scan the bucketed dimension without the bucket column."""
    return spark.read.parquet(path).drop(bucket_col)


def cdc_apply(
    snapshot: DataFrame,
    changelog: DataFrame,
    key: str,
    *,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered change-data-capture log (op ∈ I/U/D with a
    monotone sequence number per key) onto a snapshot — the lakehouse
    ingestion primitive behind Debezium→Delta/Hudi pipelines. The
    snapshot enters as sequence 0 upserts, the log is unioned on top,
    and ONE window (per-key, latest sequence wins) resolves the final
    image; rows whose last operation is a delete drop out.

    Scale shape: a single shuffle on the key; the window reads each
    key's handful of changes, never the table twice. Idempotent —
    replaying the same log yields the same table (max-seq is
    insensitive to duplicates), which is what makes at-least-once CDC
    delivery safe."""
    base = snapshot.withColumn(seq_col, F.lit(0).cast("long")).withColumn(
        op_col, F.lit("I")
    )
    all_rows = base.unionByName(changelog.select(*base.columns))
    w = Window.partitionBy(key).orderBy(F.desc(seq_col))
    return (
        all_rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "D"))
        .drop("_rn", seq_col, op_col)
    )
