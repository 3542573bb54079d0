"""DWH star-schema queries (reference sql/create_dwh_tables.sql):
dim_date generation, SCD2 customer dimension, fact build + rollup, and
the monitoring summary (dashboard A2/A3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import DIM_DATE_SQL_COLUMNS
from ..operators import dwh as W
from .catalog import SQL_DSUM, dsum, query, run_tmpdir, t

# ---------------------------------------------------------------------------
# dim_date (create_dwh_tables.sql:112-127)
# ---------------------------------------------------------------------------


@query(
    "dim_date",
    oracle=f"""
    SELECT {DIM_DATE_SQL_COLUMNS}
    FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31',
                                        INTERVAL 1 DAY))::DATE AS d)
    """,
)
def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date dimension generated fully in the JVM (sequence + explode);
    731 rows for 1995-1996. ISO day-of-week/week conventions pinned in
    functions/dates.py so engines agree."""
    return W.build_dim_date(spark, "1995-01-01", "1996-12-31")


@query(
    "dim_date_holidays",
    oracle=f"""
    WITH base AS (
      SELECT {DIM_DATE_SQL_COLUMNS}
      FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31',
                                          INTERVAL 1 DAY))::DATE AS d)
    ),
    hol(hmonth, hday, holiday_name) AS (VALUES
      (1, 1, 'New Year'), (4, 30, 'Reunification Day'),
      (5, 1, 'Labour Day'), (9, 2, 'National Day')
    )
    SELECT base.* EXCLUDE (is_holiday),
           h.holiday_name,
           CAST(h.holiday_name IS NOT NULL AS INT) AS is_holiday
    FROM base LEFT JOIN hol h
      ON base.month = h.hmonth AND base.day_of_month = h.hday
    """,
)
def dim_date_holidays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_date with a data-driven holiday calendar applied: the fixed
    Gregorian Vietnamese public holidays broadcast-joined on
    (month, day), overriding the reference's is_holiday=0 default
    (create_dwh_tables.sql:125; the ROADMAP gap). Calendar-as-data —
    swapping countries is a table change, not a code change; at scale
    the holiday dim is trivially broadcast."""
    base = W.build_dim_date(spark, "1995-01-01", "1996-12-31")
    return W.with_holiday_calendar(base)


# ---------------------------------------------------------------------------
# SCD Type 2 customer dimension (create_dwh_tables.sql:21-37)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH upd AS (
      SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'NEW CUSTOMER', 0.0
      FROM customer WHERE c_custkey % 50 = 0
    )
    -- unchanged current rows
    SELECT c_custkey, c_name, c_acctbal,
           DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM customer WHERE c_custkey % 5 <> 0
    UNION ALL
    -- changed rows: closed-out old version
    SELECT c_custkey, c_name, c_acctbal,
           DATE '2024-01-01', DATE '2024-06-01', FALSE
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    -- changed + new rows: opened current version
    SELECT c_custkey, c_name, c_acctbal,
           DATE '2024-06-01', CAST(NULL AS DATE), TRUE
    FROM upd
"""


@query("dim_customer_scd2", oracle=_SCD2_ORACLE)
def dim_customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (SURVEY.md §7): snapshot opened at 2024-01-01, then an
    update batch at 2024-06-01 with changed balances (%5) and brand-new
    keys (%50). The generic operator closes changed rows, opens new
    versions, passes unchanged rows through — the oracle hand-writes the
    expected dimension state."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    dim0 = W.scd2_init(c, "2024-01-01")
    k = F.col("c_custkey")
    changed = c.filter(k % 5 == 0).select(
        k, "c_name", (F.col("c_acctbal") + 50.0).alias("c_acctbal")
    )
    new = c.filter(k % 50 == 0).select(
        (k + 10000000).alias("c_custkey"),
        F.lit("NEW CUSTOMER").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    return W.scd2_merge(
        dim0,
        changed.unionByName(new),
        "c_custkey",
        ["c_name", "c_acctbal"],
        "2024-06-01",
    )


@query("dim_customer_scd2_incremental", oracle=_SCD2_ORACLE)
def dim_customer_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME SCD2 semantics as dim_customer_scd2, but through the
    parquet MERGE-INTO emulation: the dimension is persisted hash-
    bucketed on the key, the update batch prunes to its affected
    buckets (partition-pruned scan), and only those bucket directories
    are dynamically overwritten. The oracle is identical — incremental
    merge must be indistinguishable from full merge-and-rewrite."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    dim_path = run_tmpdir("scd2_dim_") + "/dim"
    W.write_dim_bucketed(
        W.scd2_init(c, "2024-01-01"), dim_path, "c_custkey", n_buckets=16
    )
    k = F.col("c_custkey")
    changed = c.filter(k % 5 == 0).select(
        k, "c_name", (F.col("c_acctbal") + 50.0).alias("c_acctbal")
    )
    new = c.filter(k % 50 == 0).select(
        (k + 10000000).alias("c_custkey"),
        F.lit("NEW CUSTOMER").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    W.scd2_merge_incremental(
        spark,
        dim_path,
        changed.unionByName(new),
        "c_custkey",
        ["c_name", "c_acctbal"],
        "2024-06-01",
        n_buckets=16,
    )
    return W.read_dim_bucketed(spark, dim_path)


@query("dim_customer_scd2_streaming", oracle=_SCD2_ORACLE)
def dim_customer_scd2_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME SCD2 semantics a third way: the update batch arrives as
    a STREAM (file source, AvailableNow) and foreachBatch merges each
    micro-batch into the bucketed dimension via the incremental MERGE
    (streaming.upsert.scd2_stream_upsert). Batch full-rewrite,
    incremental MERGE, and streaming MERGE must all be oracle-
    indistinguishable."""
    from ..streaming.upsert import scd2_stream_upsert

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    root = run_tmpdir("scd2_stream_")
    dim_path = root + "/dim"
    W.write_dim_bucketed(
        W.scd2_init(c, "2024-01-01"), dim_path, "c_custkey", n_buckets=16
    )
    k = F.col("c_custkey")
    changed = c.filter(k % 5 == 0).select(
        k, "c_name", (F.col("c_acctbal") + 50.0).alias("c_acctbal")
    )
    new = c.filter(k % 50 == 0).select(
        (k + 10000000).alias("c_custkey"),
        F.lit("NEW CUSTOMER").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    updates = changed.unionByName(new)
    updates.write.parquet(root + "/updates")
    stream = spark.readStream.schema(updates.schema).parquet(root + "/updates")
    q = scd2_stream_upsert(
        spark,
        dim_path,
        stream,
        "c_custkey",
        ["c_name", "c_acctbal"],
        "2024-06-01",
        checkpoint=root + "/cp",
        n_buckets=16,
    )
    q.awaitTermination()
    return W.read_dim_bucketed(spark, dim_path)


# ---------------------------------------------------------------------------
# Fact build + rollup (fact_dat_hang / fact_kho shapes,
# create_dwh_tables.sql:138-206, measures A6/A7) with SCD2-aware dim join
# ---------------------------------------------------------------------------


@query(
    "fact_sales_by_brand_year",
    oracle=f"""
    SELECT
      CAST(year(l.l_shipdate) AS INT) AS year,
      p.p_brand AS brand,
      COUNT(*) AS n_lines,
      {SQL_DSUM('l.l_quantity', 'total_qty', 2)},
      {SQL_DSUM('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def fact_sales_by_brand_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+A6/A7: fact ⋈ broadcast product dim, rolled up by (year,
    brand). The fact never shuffles for the join (dim broadcast); the
    single shuffle is the final low-cardinality groupBy."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("int").alias("year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_quantity"), "total_qty", 2),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Monitoring: zone/entity summary with rates + status buckets
# (dashboard.py:159-205, A2/A3)
# ---------------------------------------------------------------------------


@query(
    "monitoring_entity_summary",
    oracle="""
    WITH validated AS (
      SELECT
        CASE WHEN c_custkey % 2 = 0 THEN 'csv' ELSE 'sql' END AS source,
        (c_acctbal BETWEEN -1000 AND 10000)
          AND c_mktsegment IN ('AUTOMOBILE','FURNITURE','MACHINERY','BUILDING','HOUSEHOLD')
          AND (c_custkey % 10 <> 3) AS ok
      FROM (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 3 THEN -99999.0 ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
        FROM customer
      )
    ),
    zone AS (
      SELECT source,
             COUNT(*) AS raw_records,
             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS clean_records,
             CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS error_records
      FROM validated GROUP BY source
    )
    SELECT 'customer' AS entity, source, raw_records, clean_records, error_records,
      floor(clean_records * 1000.0 / raw_records + 0.5) / 10 AS success_rate,
      floor(error_records * 1000.0 / raw_records + 0.5) / 10 AS error_rate,
      CASE WHEN error_records = 0 THEN 'perfect'
           WHEN error_records * 100.0 / raw_records < 10 THEN 'good'
           WHEN error_records * 100.0 / raw_records < 30 THEN 'warning'
           ELSE 'critical' END AS status
    FROM zone
    """,
)
def monitoring_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 dashboard summary: per (entity, source) zone counts,
    success/error rates to 1dp, 4-bucket status classification
    (dashboard.py:183-203). Rounding is explicit half-up on the double
    (floor(x*10+0.5)/10) so both engines agree bit-for-bit."""
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = c.select(
        k,
        F.when(k % 10 == 3, F.lit(-99999.0)).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )
    ok = (
        F.col("c_acctbal").between(-1000, 10000)
        & F.col("c_mktsegment").isin(
            "AUTOMOBILE", "FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD"
        )
        & (k % 10 != 3)
    )
    zone = (
        dirty.select(
            F.when(k % 2 == 0, "csv").otherwise("sql").alias("source"), ok.alias("ok")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("raw_records"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("clean_records"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("error_records"),
        )
    )
    err_pct = F.col("error_records") * 100.0 / F.col("raw_records")
    half_up_1dp = lambda col: F.floor(col * 10.0 + 0.5) / 10
    return zone.select(
        F.lit("customer").alias("entity"),
        "source",
        "raw_records",
        "clean_records",
        "error_records",
        half_up_1dp(F.col("clean_records") * 100.0 / F.col("raw_records")).alias("success_rate"),
        half_up_1dp(err_pct).alias("error_rate"),
        F.when(F.col("error_records") == 0, "perfect")
        .when(err_pct < 10, "good")
        .when(err_pct < 30, "warning")
        .otherwise("critical")
        .alias("status"),
    )


@query(
    "monitoring_file_stats",
    # The driver's testdata tables are one parquet file each, so the
    # relational twin of the file rollup is a single COUNT(*) per
    # table (n_files = 1, max_file_rows = n_rows).
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{name}' AS table_name,
               CAST(1 AS BIGINT) AS n_files,
               COUNT(*) AS n_rows,
               COUNT(*) AS max_file_rows
        FROM {name}
        """
        for name in ("customer", "orders", "lineitem", "documents")
    ),
)
def monitoring_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 zone statistics (dashboard.py:46-113): per-file record counts
    via ``input_file_name()`` rolled up per table — file count, row
    count, largest file. The reference globs and counts CSV lines
    driver-side; here it is one distributed scan per table (and at
    scale, parquet footer metadata makes the counts near-free)."""
    out = None
    for name in ("customer", "orders", "lineitem", "documents"):
        per_file = (
            t(spark, sf_dir, name)
            .groupBy(F.input_file_name().alias("_file"))
            .agg(F.count(F.lit(1)).alias("_rows"))
        )
        stats = per_file.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("_rows").alias("n_rows"),
            F.max("_rows").alias("max_file_rows"),
        ).select(F.lit(name).alias("table_name"), "n_files", "n_rows", "max_file_rows")
        out = stats if out is None else out.unionByName(stats)
    return out


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join: facts enriched with the SCD2 version
# valid at event time
# ---------------------------------------------------------------------------


@query(
    "orders_pit_dimension_join",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, c_acctbal,
             DATE '1995-01-01' AS valid_from,
             CASE WHEN c_custkey % 5 = 0 THEN DATE '1998-01-01' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 50.0,
             DATE '1998-01-01', CAST(NULL AS DATE)
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT d.valid_from AS version_from,
           COUNT(*) AS n_orders,
           {SQL_DSUM('o.o_totalprice', 'order_value', 2)},
           {SQL_DSUM('d.c_acctbal', 'acctbal_at_order', 2)}
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY d.valid_from
    """,
)
def orders_pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/temporal.pit_join): every order is
    enriched with the customer-dimension VERSION that was valid on its
    order date — the as-of-event-time semantics an equi-join can't give
    (it would fan out one row per version) and a "current version only"
    join silently falsifies (historical facts would get today's
    attributes). Dimension: SCD2 opened 1995-01-01, balances of %5 keys
    changed effective 1998-01-01 — so pre-1998 orders must see the OLD
    balance and post-1998 orders the new one, which the
    acctbal_at_order sum proves.

    Scale shape: dim broadcast, validity range as a residual predicate
    on the broadcast join — the fact never shuffles for the
    enrichment; rollup by version is the one aggregation exchange."""
    from ..operators.temporal import pit_join

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")
    dim0 = W.scd2_init(c, "1995-01-01")
    changed = c.filter(k % 5 == 0).select(k, (F.col("c_acctbal") + 50.0).alias("c_acctbal"))
    dim = W.scd2_merge(dim0, changed, "c_custkey", ["c_acctbal"], "1998-01-01")
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).withColumn("_odate", F.col("o_orderdate").cast("date"))
    # pit_join keys fact[key] == dim[key]; fact uses o_custkey, so align names
    fact = o.withColumnRenamed("o_custkey", "c_custkey")
    enriched = pit_join(
        fact,
        dim.select("c_custkey", "c_acctbal", "valid_from", "valid_to"),
        "c_custkey",
        "_odate",
    )
    return enriched.groupBy(F.col("valid_from").alias("version_from")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "order_value", 2),
        dsum(F.col("c_acctbal"), "acctbal_at_order", 2),
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (Debezium-style ordered upsert/delete log)
# ---------------------------------------------------------------------------


@query(
    "orders_cdc_apply",
    oracle=f"""
    WITH log AS (
      SELECT o_orderkey, o_totalprice, 0 AS seq, 'I' AS op FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice + 10.0, 2, 'U'
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, 3, 'D'
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, 1.0, 1, 'I'
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    resolved AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey > 10000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted,
           {SQL_DSUM('o_totalprice', 'total_value', 2)}
    FROM resolved WHERE rn = 1 AND op <> 'D'
    """,
)
def orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (operators/dwh.cdc_apply): a Debezium-style
    ordered log — updates on %7 keys (seq 2), deletes of %13 keys
    (seq 3), brand-new inserts (seq 1) — lands on the orders snapshot;
    one per-key latest-sequence-wins window resolves the final table
    and deletes drop out. Idempotent under log replay (max-seq), which
    is what makes at-least-once delivery safe. Summary proves all three
    op kinds took effect: row count (deletes gone, inserts in), insert
    count, and the value sum shifted by the updates.

    Scale shape: exactly one shuffle on the key; each key's window
    holds only its few change rows."""
    from ..operators.dwh import cdc_apply

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    changelog = (
        o.filter(k % 7 == 0)
        .select(k, (F.col("o_totalprice") + 10.0).alias("o_totalprice"))
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("op", F.lit("U"))
        .unionByName(
            o.filter(k % 13 == 0)
            .select(k, "o_totalprice")
            .withColumn("seq", F.lit(3).cast("long"))
            .withColumn("op", F.lit("D"))
        )
        .unionByName(
            o.filter(k % 11 == 0)
            .select(
                (k + 10000000).alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
            .withColumn("seq", F.lit(1).cast("long"))
            .withColumn("op", F.lit("I"))
        )
    )
    final = cdc_apply(o, changelog, "o_orderkey")
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_orderkey") > 10000000).cast("long")).alias("n_inserted"),
        dsum(F.col("o_totalprice"), "total_value", 2),
    )


# ---------------------------------------------------------------------------
# Bitemporal dimension: valid time × transaction time
# ---------------------------------------------------------------------------


@query(
    "dim_customer_bitemporal",
    oracle="""
    WITH dim AS (
      -- recorded at tx T0: initial load, valid from 1995 open-ended
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
             DATE '1995-01-01' AS vf, CAST(NULL AS DATE) AS vt,
             DATE '2024-01-01' AS tf, DATE '2024-06-01' AS tt
      FROM customer
      UNION ALL
      -- recorded at tx T1: %3 keys RETROACTIVELY corrected (+99) for
      -- the same valid period — supersedes the T0 belief
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) + 99,
             DATE '1995-01-01', CAST(NULL AS DATE),
             DATE '2024-06-01', CAST(NULL AS DATE)
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      -- T0 rows of corrected keys stay queryable AS OF T0 (tt closes
      -- them at T1); uncorrected keys remain open at T1
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)),
             DATE '1995-01-01', CAST(NULL AS DATE),
             DATE '2024-06-01', CAST(NULL AS DATE)
      FROM customer WHERE c_custkey % 3 <> 0
    ),
    probes AS (
      SELECT * FROM (VALUES
        (DATE '2024-03-01', DATE '1996-06-01'),
        (DATE '2024-07-01', DATE '1996-06-01')
      ) AS v(tx_asof, valid_asof)
    )
    SELECT p.tx_asof, p.valid_asof,
           COUNT(*) AS n_rows,
           CAST(SUM(d.bal) AS DOUBLE) AS total_balance
    FROM probes p JOIN dim d
      ON d.tf <= p.tx_asof AND (d.tt IS NULL OR p.tx_asof < d.tt)
     AND d.vf <= p.valid_asof AND (d.vt IS NULL OR p.valid_asof < d.vt)
    GROUP BY p.tx_asof, p.valid_asof
    """,
)
def dim_customer_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL dimension query: every row carries TWO intervals —
    VALID time (when the fact was true in the world) and TRANSACTION
    time (when the warehouse believed it) — and "AS OF" takes both
    coordinates. The fixture records an initial load at tx T0, then a
    RETROACTIVE correction at T1 for a third of the keys (same valid
    period, new balance): querying valid date 1996 AS OF tx March must
    return the pre-correction numbers (reproducing the report exactly
    as it was produced — the audit requirement SCD2 alone can't meet),
    while AS OF July reflects the correction. Both probes run in one
    broadcast-probe join against the same dimension scan.

    SCD2 (dim_customer_scd2) is the valid-time half; this adds the
    transaction axis that makes restatements queryable instead of
    destructive."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("bal")
    )
    d0 = lambda s: F.lit(s).cast("date")
    null_d = F.lit(None).cast("date")
    k = F.col("c_custkey")
    dim = (
        c.select(
            "c_custkey", "bal",
            d0("1995-01-01").alias("vf"), null_d.alias("vt"),
            d0("2024-01-01").alias("tf"), d0("2024-06-01").alias("tt"),
        )
        .unionByName(
            c.filter(k % 3 == 0).select(
                "c_custkey", (F.col("bal") + 99).cast("decimal(18,2)").alias("bal"),
                d0("1995-01-01").alias("vf"), null_d.alias("vt"),
                d0("2024-06-01").alias("tf"), null_d.alias("tt"),
            )
        )
        .unionByName(
            c.filter(k % 3 != 0).select(
                "c_custkey", "bal",
                d0("1995-01-01").alias("vf"), null_d.alias("vt"),
                d0("2024-06-01").alias("tf"), null_d.alias("tt"),
            )
        )
    )
    probes = spark.createDataFrame(
        [("2024-03-01", "1996-06-01"), ("2024-07-01", "1996-06-01")],
        ["tx_s", "valid_s"],
    ).select(
        F.col("tx_s").cast("date").alias("tx_asof"),
        F.col("valid_s").cast("date").alias("valid_asof"),
    )
    joined = dim.join(
        F.broadcast(probes),
        (F.col("tf") <= F.col("tx_asof"))
        & (F.col("tt").isNull() | (F.col("tx_asof") < F.col("tt")))
        & (F.col("vf") <= F.col("valid_asof"))
        & (F.col("vt").isNull() | (F.col("valid_asof") < F.col("vt"))),
    )
    return joined.groupBy("tx_asof", "valid_asof").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal").cast("double").alias("total_balance"),
    )


# ---------------------------------------------------------------------------
# Late-arriving dimension (inferred members + backfill)
# ---------------------------------------------------------------------------


@query(
    "fact_late_dimension",
    oracle="""
    WITH dim AS (
      -- the dimension loaded BEFORE a third of the customers arrived
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE c_custkey % 3 <> 0
    ),
    facts AS (SELECT o_orderkey, o_custkey FROM orders),
    inferred AS (
      -- early-arriving facts mint placeholder members for unknown keys
      SELECT DISTINCT f.o_custkey AS c_custkey,
             'INFERRED' AS c_name, 'UNKNOWN' AS c_mktsegment
      FROM facts f LEFT JOIN dim d ON d.c_custkey = f.o_custkey
      WHERE d.c_custkey IS NULL
    ),
    dim2 AS (SELECT * FROM dim UNION ALL SELECT * FROM inferred),
    backfilled AS (
      -- the late dimension rows arrive and overwrite the placeholders
      SELECT d2.c_custkey,
             COALESCE(c.c_name, d2.c_name) AS c_name,
             COALESCE(c.c_mktsegment, d2.c_mktsegment) AS c_mktsegment,
             (d2.c_name = 'INFERRED') AS was_inferred
      FROM dim2 d2
      LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        ON c.c_custkey = d2.c_custkey
    )
    SELECT b.c_mktsegment,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN b.was_inferred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backfilled,
           (SELECT COUNT(*) FROM facts f JOIN dim2 d ON d.c_custkey = f.o_custkey)
             AS n_facts_joinable
    FROM backfilled b GROUP BY b.c_mktsegment
    """,
)
def fact_late_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-ARRIVING DIMENSION handling — the DWH pattern for facts
    that reference members the dimension hasn't loaded yet: instead of
    dropping or quarantining the fact (losing revenue rows), the load
    MINTS an inferred member per unknown key ('INFERRED'/'UNKNOWN'),
    every fact stays joinable immediately, and when the real dimension
    rows land the placeholders are overwritten in place (backfill
    coalesce). The report shows segment membership after backfill,
    how many members went through the inferred state, and that fact
    joinability was total throughout.

    Shape: unknown keys via left-anti on the broadcast dim; the
    backfill is one more broadcast join. The reference quarantines FK
    misses to the error zone (V4) — this is the other standard
    answer, and both now exist in the catalog."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    facts = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("c_custkey")
    dim = c.filter(k % 3 != 0)
    inferred = (
        facts.join(
            F.broadcast(dim.select("c_custkey")),
            facts["o_custkey"] == dim["c_custkey"],
            "left_anti",
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("c_name", F.lit("INFERRED"))
        .withColumn("c_mktsegment", F.lit("UNKNOWN"))
    )
    # round-9 NOTE (measured, left alone): dim2 feeds two consumers
    # but AQE reuses the anti-join's exchanges at runtime; a lazy
    # localCheckpoint A/B'd slower (0.57 plain vs 0.62).
    dim2 = dim.unionByName(inferred)
    late = c.filter(k % 3 == 0).select(
        F.col("c_custkey").alias("lk"),
        F.col("c_name").alias("ln"),
        F.col("c_mktsegment").alias("ls"),
    )
    backfilled = dim2.join(
        F.broadcast(late), dim2["c_custkey"] == late["lk"], "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("ln"), F.col("c_name")).alias("c_name"),
        F.coalesce(F.col("ls"), F.col("c_mktsegment")).alias("c_mktsegment"),
        (F.col("c_name") == "INFERRED").alias("was_inferred"),
    )
    joinable = facts.join(
        F.broadcast(dim2), facts["o_custkey"] == dim2["c_custkey"]
    ).agg(F.count(F.lit(1)).alias("n_facts_joinable"))
    return (
        backfilled.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("was_inferred").cast("long")).alias("n_backfilled"),
        )
        .crossJoin(F.broadcast(joinable))
    )


# ---------------------------------------------------------------------------
# Compensating fact entries (append-only corrections)
# ---------------------------------------------------------------------------


@query(
    "fact_compensating_entries",
    oracle="""
    WITH postings AS (
      -- original postings
      SELECT o_orderkey, o_orderdate,
             CAST(o_totalprice AS DECIMAL(18,2)) AS amount, 1 AS seq
      FROM orders
      UNION ALL
      -- corrections arrive append-only: full reversal + corrected row
      SELECT o_orderkey, o_orderdate,
             -CAST(o_totalprice AS DECIMAL(18,2)), 2
      FROM orders WHERE o_orderkey % 9 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate,
             CAST(o_totalprice AS DECIMAL(18,2)) + 5, 3
      FROM orders WHERE o_orderkey % 9 = 0
    )
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_postings,
           CAST(SUM(CASE WHEN seq = 1 THEN amount ELSE 0 END) AS DOUBLE)
             AS as_posted,
           CAST(SUM(amount) AS DOUBLE) AS net_amount,
           CAST(SUM(CASE WHEN seq > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correction_rows
    FROM postings GROUP BY month
    """,
)
def fact_compensating_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-ONLY fact corrections (compensating entries): a posted
    fact is never updated — a correction appends a full reversal plus
    the corrected row, so history is immutable (audit), every past
    report is reproducible from as-posted rows alone, and the NET view
    is just SUM over all postings — no MERGE, no rewrite, no conflict
    with concurrent readers. The accounting answer to mutable facts,
    and at 100 TB the cheapest one: corrections are a tiny append, and
    exact-decimal addition makes net == corrected by construction.

    The month report carries both views (as-posted vs net) plus the
    correction volume — the reconciliation triangle every ledger
    closes with."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.col("o_totalprice").cast("decimal(18,2)").alias("amount")
    )
    k = F.col("o_orderkey")
    postings = (
        o.withColumn("seq", F.lit(1))
        .unionByName(
            o.filter(k % 9 == 0).select(
                "o_orderkey", "o_orderdate", (-F.col("amount")).alias("amount")
            ).withColumn("seq", F.lit(2))
        )
        .unionByName(
            o.filter(k % 9 == 0).select(
                "o_orderkey", "o_orderdate",
                (F.col("amount") + 5).cast("decimal(18,2)").alias("amount"),
            ).withColumn("seq", F.lit(3))
        )
    )
    return postings.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.sum(F.when(F.col("seq") == 1, F.col("amount")).otherwise(F.lit(0).cast("decimal(18,2)")))
        .cast("double")
        .alias("as_posted"),
        F.sum("amount").cast("double").alias("net_amount"),
        F.sum((F.col("seq") > 1).cast("long")).alias("n_correction_rows"),
    )


# ---------------------------------------------------------------------------
# Effective-dated FX conversion (as-of join against a rate series)
# ---------------------------------------------------------------------------


@query(
    "orders_fx_normalized",
    oracle="""
    WITH rates AS (
      SELECT CAST(w AS TIMESTAMP) AS rate_ts,
             1000000 + (CAST(epoch(CAST(w AS TIMESTAMP)) // 86400 AS BIGINT) % 50)
               * 1000 AS rate_micro
      FROM (SELECT unnest(generate_series(DATE '1994-12-26', DATE '2001-12-31',
                                          INTERVAL 7 DAY)) AS w)
    ),
    converted AS (
      SELECT o.o_orderkey, o.o_orderdate, r.rate_micro,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * r.rate_micro
               AS conv_micro_cents
      FROM orders o
      ASOF LEFT JOIN rates r ON o.o_orderdate >= r.rate_ts
    )
    SELECT CAST(date_trunc('year', o_orderdate) AS DATE) AS year,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT rate_micro) AS n_rates_used,
           CAST(SUM(CAST(conv_micro_cents AS DECIMAL(38,0))) AS DOUBLE)
             AS total_converted_micro_cents
    FROM converted GROUP BY year
    """,
)
def orders_fx_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated currency conversion: each order converts at the
    LATEST rate published on or before its order date — the as-of join
    (operators/temporal.asof_join) against a weekly rate series, which
    is how every multi-currency warehouse normalizes amounts (an
    equi-join on date would lose orders between publications; a range
    join would be quadratic). Rates are a deterministic integer
    function of the week (micro-rates), conversion is integer
    arithmetic (cents × micro-rate), and the yearly rollup sums exact
    decimals — bit-identical across engines and partitionings.

    A rate series is TINY (|weeks| rows) however big the fact side is
    — so instead of the generic as-of join (whose window would put a
    single currency's entire fact stream in one sort partition), the
    series EXPANDS to its daily effective grain (each rate row covers
    [rate_ts, next rate_ts); |days| rows, still dim-sized for any
    realistic horizon) and the fact side picks its rate with a plain
    broadcast EQUI-join on the date — whole-stage codegen, no per-row
    array scan (the prior broadcast-sorted-array form evaluated an
    interpreted lambda over all |weeks| entries per ORDER: ~550M
    lambda evals at sf1.0, measured 30s; the daily-grain join is
    ~1.5s). Irregular (non-weekly) series work too — expansion needs
    only each row and its successor — PROVIDED the series is
    midnight-aligned at day grain (the fact side is a DATE, so
    sub-day rate timestamps can't be honored at timestamp precision
    anyway); multiple publications on one calendar day are collapsed
    keep-LAST before the expand, so duplicate day keys can never
    multiply fact rows. The general operators/temporal.asof_join
    remains the tool when BOTH sides are large (events as-of events);
    DuckDB's native ASOF LEFT JOIN is the oracle either way —
    certifying against an independent engine's dedicated operator."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    rates = (
        spark.sql(
            """
            SELECT explode(sequence(DATE '1994-12-26', DATE '2001-12-31',
                                    INTERVAL 7 DAY)) AS w
            """
        )
        .select(F.col("w").cast("timestamp").alias("rate_ts"))
        .withColumn(
            "rate_micro",
            F.lit(1000000)
            + (F.floor(F.unix_timestamp("rate_ts") / 86400).cast("long") % 50)
            * 1000,
        )
    )
    # ASOF semantics for the LAST rate: it stays effective through the
    # fact horizon (DuckDB's ASOF JOIN matches it for any later order),
    # so the final interval extends to max(o_orderdate), not to the
    # rate's own day.
    horizon = o.agg(F.max("o_orderdate").alias("h")).collect()[0]["h"]
    wnext = Window.orderBy("rate_d")
    # collapse to one rate per calendar day (keep-last): without this a
    # same-day republish would make sequence(d, next_d-1) = sequence(d,
    # d-1) — a DESCENDING 2-day sequence whose duplicate day keys
    # multiply fact rows through the equi-join (ADVICE r7)
    wday = Window.partitionBy("rate_d").orderBy(F.col("rate_ts").desc())
    daily = (
        rates.withColumn("rate_d", F.col("rate_ts").cast("date"))
        .withColumn("_rn", F.row_number().over(wday))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("next_d", F.lead("rate_d").over(wnext))
        .select(
            F.explode(
                F.sequence(
                    F.col("rate_d"),
                    F.coalesce(
                        F.date_sub("next_d", 1),
                        F.greatest(F.col("rate_d"), F.lit(horizon)),
                    ),
                )
            ).alias("day"),
            "rate_micro",
        )
    )
    joined = o.join(
        F.broadcast(daily), o["o_orderdate"] == daily["day"], "left"
    ).select("o_orderdate", "cents", "rate_micro")
    conv = joined.select(
        "o_orderdate",
        "rate_micro",
        (F.col("cents") * F.col("rate_micro")).cast("decimal(38,0)").alias(
            "conv_micro_cents"
        ),
    )
    return conv.groupBy(
        F.date_trunc("year", "o_orderdate").cast("date").alias("year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("rate_micro").alias("n_rates_used"),
        F.sum("conv_micro_cents").cast("double").alias(
            "total_converted_micro_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Governance: right-to-be-forgotten purge with a verifiable audit trail
# ---------------------------------------------------------------------------


@query(
    "customers_rtbf_purge_audit",
    oracle="""
    WITH tombstones AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
    ),
    o_cascade AS (
      SELECT o_orderkey FROM orders JOIN tombstones ON o_custkey = k
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM tombstones) AS BIGINT) AS n_purged,
           CAST((SELECT COUNT(*) FROM customer) -
                (SELECT COUNT(*) FROM tombstones) AS BIGINT) AS n_retained
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM o_cascade) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) -
                (SELECT COUNT(*) FROM o_cascade) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem JOIN o_cascade
                 ON l_orderkey = o_orderkey) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) -
                (SELECT COUNT(*) FROM lineitem JOIN o_cascade
                 ON l_orderkey = o_orderkey) AS BIGINT)
    """,
)
def customers_rtbf_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure across the relational cascade:
    a tombstone list of data subjects (every 97th customer) drives an
    anti-join purge of the customer table, their orders, and those
    orders' line items, and the audit report proves completeness —
    per table, how many rows left and how many remain (the artifact a
    DPO asks for; complements customers_pseudonymized, which handles
    the keep-but-mask cases).

    Scale shape: the tombstone list is dimension-sized and BROADCASTS
    into every purge leg (left_anti join = the delete predicate); the
    cascade key set (purged orderkeys) is itself the product of a
    broadcast join. Nothing scans more than once per table; counts are
    map-side-combined."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # round-9 (guide §1.2): the tombstone and cascaded-key lists each
    # feed two legs (the purge count and the next cascade level) — lazy
    # localCheckpoint of the two dimension-sized key lists so each
    # table scans once per leg, not once per downstream reference.
    tomb = (
        c.filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=False)
    )
    o_gone = (
        o.join(F.broadcast(tomb), F.col("o_custkey") == F.col("k"))
        .select("o_orderkey")
        .localCheckpoint(eager=False)
    )
    li_gone = li.join(
        F.broadcast(o_gone), F.col("l_orderkey") == F.col("o_orderkey")
    ).select("l_orderkey")

    def leg(name, total_df, gone_df):
        total = total_df.agg(F.count(F.lit(1)).alias("_t"))
        gone = gone_df.agg(F.count(F.lit(1)).alias("_g"))
        return total.crossJoin(gone).select(
            F.lit(name).alias("table_name"),
            F.col("_g").alias("n_purged"),
            (F.col("_t") - F.col("_g")).alias("n_retained"),
        )

    return (
        leg("customer", c, tomb)
        .unionByName(leg("orders", o, o_gone))
        .unionByName(leg("lineitem", li, li_gone))
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance: V = agg(orders x customer) kept
# fresh by merging only the delta's contribution (IVM for joins — the
# companion to events_rollup_incremental_refresh's aggregate-only IVM)
# ---------------------------------------------------------------------------


@query(
    "fact_join_view_incremental",
    oracle="""
    SELECT c_mktsegment,
           CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, year(o_orderdate)
    """,
)
def fact_join_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: the materialized view
    V = (segment, year) -> (count, revenue) over orders x customer is
    refreshed for a new batch of orders (the 1998+ slice) by computing
    ONLY delta-orders x customer and MERGING partial aggregates into
    the stale view — the dV = dA x B identity of delta-join IVM
    (inserts-only; deletes would carry signed counts). The result must
    be bit-identical to recomputing the view from scratch, which is
    exactly what the oracle does.

    Scale shape: the refresh touches |delta| fact rows + the broadcast
    dimension + |affected groups| view rows — not the historical fact
    table; partial counts and EXACT-DECIMAL revenue sums merge
    associatively, so stale + delta composes in one tiny groupBy. At
    100 TB this is the difference between an hourly refresh reading
    one hour and reading three years."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cutoff = "1998-01-01"

    def view_of(orders_slice: DataFrame) -> DataFrame:
        return (
            orders_slice.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(
                "c_mktsegment",
                F.year("o_orderdate").cast("int").alias("order_year"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
            )
        )

    stale = view_of(o.filter(F.col("o_orderdate") < cutoff))
    delta = view_of(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        stale.unionByName(delta)
        .groupBy("c_mktsegment", "order_year")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("_rev").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Lunisolar holidays: Tet computed astronomically (functions/lunar.py)
# ---------------------------------------------------------------------------


@query(
    "dim_date_tet_holidays",
    oracle="""
    SELECT CAST(d AS DATE) AS d, holiday_name, lunar_year_name,
           CAST(isodow(CAST(d AS DATE)) AS INT) AS iso_dow
    FROM (VALUES
      ('1995-01-31', 'Tet day 1', 'At Hoi'),
      ('1995-02-01', 'Tet day 2', 'At Hoi'),
      ('1995-02-02', 'Tet day 3', 'At Hoi'),
      ('1996-02-19', 'Tet day 1', 'Binh Ty'),
      ('1996-02-20', 'Tet day 2', 'Binh Ty'),
      ('1996-02-21', 'Tet day 3', 'Binh Ty')
    ) AS t(d, holiday_name, lunar_year_name)
    """,
)
def dim_date_tet_holidays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LUNISOLAR holiday leg dim_date was missing (ROADMAP #3):
    Tet Nguyen Dan computed ASTRONOMICALLY — Meeus truncated-series
    new-moon times and solar longitude at UTC+7, lunar month 11
    anchored to the winter solstice, leap month = the one without a
    principal term (functions/lunar.py) — no lunar dataset needed.
    Emits the three Tet public-holiday days for each dim_date year
    with the sexagenary year name.

    The oracle pins the historically documented dates (Tet 1995 =
    Jan 31 'At Hoi', 1996 = Feb 19 'Binh Ty'): the astronomy is
    validated against independent public record, not against itself
    (unit tests extend the pin to 1997/2000/2024). Calendar metadata
    is driver-side by design — a handful of rows a year, broadcast
    into dim_date joins like any holiday table."""
    from ..functions.lunar import can_chi_year, tet_dates

    rows = []
    for year in (1995, 1996):
        name = can_chi_year(year)
        for i, d in enumerate(tet_dates(year), start=1):
            rows.append((d, f"Tet day {i}", name))
    df = spark.createDataFrame(
        rows, schema="d date, holiday_name string, lunar_year_name string"
    )
    return df.withColumn("iso_dow", (F.weekday("d") + 1).cast("int"))


# ---------------------------------------------------------------------------
# Changelog DERIVATION (snapshot diff -> CDC events): the inverse of
# fact_cdc_changelog_apply — closing the CDC loop
# ---------------------------------------------------------------------------


@query(
    "customers_snapshot_changelog",
    oracle="""
    WITH old AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 11 <> 0
    ),
    new AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 13 <> 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                     AND o.c_acctbal <> n.c_acctbal
                THEN 'c_acctbal' END AS changed_col,
           n.c_acctbal AS new_acctbal,
           o.c_acctbal AS old_acctbal
    FROM old o FULL JOIN new n USING (c_custkey)
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal <> n.c_acctbal
    """,
)
def customers_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog DERIVATION: two dimension snapshots (yesterday
    drops keys %11, today drops %13 and bumps balances %7) full-outer
    join on the key and emit only the differences as I/U/D operations
    with old/new values — the inverse of fact_cdc_changelog_apply,
    closing the loop: derive the changelog from snapshots where the
    source system can't emit one, then apply it downstream.

    Scale shape: one full-outer shuffle join on the key (AQE handles
    the skew); unchanged rows — the overwhelming majority at 100 TB —
    are filtered before anything materializes. Snapshot diffing at
    scale wants the block-checksum pre-filter (orders_zone_diff) to
    prune identical key ranges before this row-level join."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    old = c.filter(k % 11 != 0)
    new = c.filter(k % 13 != 0).withColumn(
        "c_acctbal",
        F.when(k % 7 == 0, F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    o = old.select(
        k.alias("ok"), F.col("c_acctbal").alias("old_acctbal")
    )
    n = new.select(
        k.alias("nk"), F.col("c_acctbal").alias("new_acctbal")
    )
    joined = o.join(n, F.col("ok") == F.col("nk"), "full_outer")
    changed = (
        F.col("ok").isNotNull()
        & F.col("nk").isNotNull()
        & (F.col("old_acctbal") != F.col("new_acctbal"))
    )
    return (
        joined.filter(
            F.col("ok").isNull() | F.col("nk").isNull() | changed
        )
        .select(
            F.coalesce("ok", "nk").alias("c_custkey"),
            F.when(F.col("ok").isNull(), "I")
            .when(F.col("nk").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            F.when(changed, "c_acctbal").alias("changed_col"),
            "new_acctbal",
            "old_acctbal",
        )
    )


# ---------------------------------------------------------------------------
# Accumulating-snapshot fact and semi-additive measures — the two
# Kimball fact patterns not yet in the catalog
# ---------------------------------------------------------------------------


@query(
    "fact_order_lifecycle",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship,
           CAST(date_diff('day', o_orderdate, MIN(l_shipdate)) AS INT)
             AS days_to_first_ship,
           CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) AS INT)
             AS ship_window_days,
           CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lines_shipped,
           COUNT(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey % 50 = 0
    GROUP BY o_orderkey, o_orderdate
    """,
)
def fact_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCUMULATING-SNAPSHOT fact (the third Kimball fact type, after
    the transaction facts and periodic rollups already in the catalog):
    one row per order tracking its milestone pipeline — placed ->
    first ship -> last ship (the fixture carries no receipt date) —
    with the lag measures between milestones. In production this row is UPDATED as milestones land;
    rebuilt here declaratively from the line items, which is also the
    backfill path. Milestone lags are day-exact integers.

    Scale shape: one fact-fact equi-join on the native key, one
    map-side-combined rollup to |orders| rows."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.datediff(F.min("l_shipdate"), F.col("o_orderdate"))
            .cast("int")
            .alias("days_to_first_ship"),
            F.datediff(F.max("l_shipdate"), F.min("l_shipdate"))
            .cast("int")
            .alias("ship_window_days"),
            F.sum(F.when(F.col("l_shipdate").isNotNull(), 1).otherwise(0)).alias(
                "n_lines_shipped"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "fact_period_end_balance",
    oracle="""
    WITH ranked AS (
      SELECT user_id,
             date_trunc('week', ts) AS week,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT CAST(week AS DATE) AS week,
           COUNT(*) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_period_end_cents,
           CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS avg_period_end_cents
    FROM ranked WHERE rn = 1
    GROUP BY week
    """,
)
def fact_period_end_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-ADDITIVE measure aggregation: balances sum across USERS but
    not across TIME — summing every reading over a month would count
    each user many times, so the period aggregate takes each user's
    LAST reading of the month (rank over the user-month partition) and
    only then sums across users. The pattern for account balances,
    inventory levels, and any gauge metric in a periodic-snapshot
    fact.

    Scale shape: one window on (user, month) with rank pushdown
    (WindowGroupLimit prunes to the top row per group before any
    sort spill), then a map-side-combined month rollup."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.date_trunc("week", F.col("ts"))
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cents").alias("total_period_end_cents"),
        )
        .select(
            "week",
            "n_users",
            "total_period_end_cents",
            (
                F.col("total_period_end_cents").cast("double") / F.col("n_users")
            ).alias("avg_period_end_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar-spine densification: zero-filled daily series per group
# ---------------------------------------------------------------------------


@query(
    "orders_daily_spine",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                    INTERVAL 1 DAY))::DATE AS d
    ),
    statuses AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
    actual AS (
      SELECT o_orderdate AS d, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
      GROUP BY 1, 2
    )
    SELECT s.d, t.st AS o_orderstatus,
           COALESCE(a.n, 0) AS n_orders,
           CAST(COALESCE(a.n, 0) = 0 AS INT) AS is_gap
    FROM spine s CROSS JOIN statuses t
    LEFT JOIN actual a ON a.d = s.d AND a.st = t.st
    """,
)
def orders_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-SPINE densification: a quarter's daily series per
    order status with explicit zero rows for days that had no orders —
    the upsampling every BI chart and forecasting model needs (a
    GROUP BY alone silently omits empty days, corrupting moving
    averages and lag features downstream). Spine x groups is a
    broadcast cross join of two dimension-sized sides; facts attach
    with a left join and gaps are flagged.

    Scale shape: the spine (days) and the group list are metadata;
    the fact side is date-range pruned at the scan. The result is the
    dense frame the LOCF/EWMA operators above consume."""
    o = t(spark, sf_dir, "orders")
    spine = spark.sql(
        "SELECT explode(sequence(DATE '1997-01-01', DATE '1997-03-31',"
        " INTERVAL 1 DAY)) AS d"
    )
    statuses = o.select(F.col("o_orderstatus").alias("st")).distinct()
    actual = (
        o.filter(F.col("o_orderdate").between("1997-01-01", "1997-03-31"))
        .groupBy(
            F.col("o_orderdate").alias("d"), F.col("o_orderstatus").alias("st")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.crossJoin(F.broadcast(statuses))
        .join(actual, ["d", "st"], "left")
        .select(
            "d",
            F.col("st").alias("o_orderstatus"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            (F.coalesce("n", F.lit(0)) == 0).cast("int").alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------


@query(
    "customers_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 2000) AS BIGINT)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(round(CAST(SUM(CASE WHEN class_size < 5 THEN class_size
                                    ELSE 0 END) AS DOUBLE)
                      * 1000000 / SUM(class_size)) AS BIGINT)
             AS at_risk_ppm
    FROM classes
    """,
)
def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit: group the table by its quasi-identifiers
    (nation, segment, coarse balance bucket) and measure the smallest
    equivalence class — the dataset's k — plus how many rows sit in
    classes below k=5 (each such row is re-identifiable by joining
    public attributes). The release-gate metric behind
    generalize-or-suppress decisions; complements the
    pseudonymization and RTBF queries: tokens hide direct identifiers,
    k-anonymity measures the indirect ones.

    Scale shape: one map-side-combined class count, one 6-number
    rollup."""
    c = t(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    risk_rows = F.sum(
        F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.min("class_size").alias("k_anonymity"),
        F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0)).alias(
            "n_violating_classes"
        ),
        risk_rows.alias("n_rows_at_risk"),
        F.round(
            risk_rows.cast("double") * 1000000 / F.sum("class_size")
        )
        .cast("long")
        .alias("at_risk_ppm"),
    )


@query(
    "customers_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
             CAST(MAX(seg_n) AS BIGINT) AS max_seg_n
      FROM (
        SELECT c_nationkey, c_acctbal, c_mktsegment,
               COUNT(*) OVER (
                 PARTITION BY c_nationkey,
                              CAST(floor(c_acctbal / 2000) AS BIGINT),
                              c_mktsegment) AS seg_n
        FROM customer
      )
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 2000) AS BIGINT)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l_distinct) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity_classes,
           CAST(SUM(CASE WHEN max_seg_n * 2 > class_size THEN 1 ELSE 0 END)
                AS BIGINT) AS n_majority_disclosed_classes,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN class_size ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk
    FROM classes
    """,
)
def customers_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit (Machanavajjhala et al., ICDE'06): k-anonymity
    alone fails when an equivalence class, however large, is
    homogeneous in the SENSITIVE attribute — every member's secret
    leaks without re-identification. Per quasi-identifier class
    (nation × balance bucket) this measures the number of distinct
    sensitive values (market segment standing in) and how often one
    value holds an outright majority (the precursor to a
    t-closeness/skew attack); the dataset's l is the minimum.

    Scale shape: one window count + one two-level aggregate, all
    map-side-combined; no joins. Complements [[customers_k_anonymity]]
    — same release gate, orthogonal failure mode."""
    c = t(spark, sf_dir, "customer")
    bb = F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket")
    w = Window.partitionBy("c_nationkey", "bal_bucket", "c_mktsegment")
    rows = c.select("c_nationkey", bb, "c_mktsegment").withColumn(
        "seg_n", F.count(F.lit(1)).over(w)
    )
    classes = rows.groupBy("c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("c_mktsegment").alias("l_distinct"),
        F.max("seg_n").alias("max_seg_n"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l_distinct").cast("long").alias("l_diversity"),
        F.sum(F.when(F.col("l_distinct") < 3, 1).otherwise(0))
        .cast("long")
        .alias("n_low_diversity_classes"),
        F.sum(
            F.when(F.col("max_seg_n") * 2 > F.col("class_size"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_majority_disclosed_classes"),
        F.sum(F.when(F.col("l_distinct") < 3, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    )


@query(
    "customers_t_closeness",
    oracle="""
    WITH rows_s AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor((c_acctbal + 1000) / 2200) AS BIGINT) AS sb
      FROM customer
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM rows_s),
    gdist AS (
      SELECT sb, CAST(COUNT(*) AS BIGINT) AS g FROM rows_s GROUP BY sb
    ),
    gcum AS (
      SELECT b.sb,
             CAST(COALESCE(SUM(g2.g), 0) AS BIGINT) AS cum_g
      FROM (SELECT unnest(range(0, 5)) AS sb) b
      LEFT JOIN gdist g2 ON g2.sb <= b.sb
      GROUP BY b.sb
    ),
    cdist AS (
      SELECT c_nationkey, c_mktsegment, sb, CAST(COUNT(*) AS BIGINT) AS n
      FROM rows_s GROUP BY c_nationkey, c_mktsegment, sb
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(n) AS BIGINT) AS n_g
      FROM cdist GROUP BY c_nationkey, c_mktsegment
    ),
    dense AS (
      SELECT cl.c_nationkey, cl.c_mktsegment, cl.n_g, b.sb,
             CAST(COALESCE(cd.n, 0) AS BIGINT) AS n
      FROM classes cl
      CROSS JOIN (SELECT unnest(range(0, 5)) AS sb) b
      LEFT JOIN cdist cd ON cd.c_nationkey = cl.c_nationkey
                        AND cd.c_mktsegment = cl.c_mktsegment
                        AND cd.sb = b.sb
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n_g, sb,
             CAST(SUM(n) OVER (PARTITION BY c_nationkey, c_mktsegment
                               ORDER BY sb) AS BIGINT) AS cum_n
      FROM dense
    ),
    emd AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.n_g,
             CAST((1000000 * SUM(CASE WHEN c.sb < 4
                    THEN abs(c.cum_n * t.n_total - g.cum_g * c.n_g)
                    ELSE 0 END))
                  // (4 * c.n_g * t.n_total) AS BIGINT) AS emd_micro
      FROM cum c JOIN gcum g ON g.sb = c.sb CROSS JOIN tot t
      GROUP BY c.c_nationkey, c.c_mktsegment, c.n_g, t.n_total
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MAX(emd_micro) AS BIGINT) AS t_closeness_micro,
           CAST(SUM(emd_micro) // COUNT(*) AS BIGINT) AS avg_emd_micro,
           CAST(SUM(CASE WHEN emd_micro > 200000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(CASE WHEN emd_micro > 200000 THEN n_g ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk
    FROM emd
    """,
)
def customers_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    third rung of the release-gate ladder after
    [[customers_k_anonymity]] and [[customers_l_diversity]]: a class
    can be large AND diverse yet still leak if its sensitive-value
    DISTRIBUTION differs sharply from the table's (a skew attack —
    "this class is mostly top-balance customers"). Per
    quasi-identifier class (nation × segment) this measures the Earth
    Mover's Distance between the class's balance-quintile distribution
    and the global one; the dataset's t is the maximum.

    EMD for an ORDERED attribute with unit ground distance is the
    mean of absolute cumulative-distribution gaps —
    ``Σ_{i<m-1} |CumP_i - CumQ_i| / (m-1)`` — computed here in exact
    integer arithmetic: cumulative COUNTS cross-multiplied by the two
    totals (``|cum_n·N - cum_g·n_g|``), one floor division to micro
    units per class, so both engines agree bit-for-bit.

    Scale shape: one class×bucket count (map-side combined), a
    5-bucket dense spine broadcast against the class list, one
    cumulative window per class, and the global 5-row distribution
    broadcast into the EMD fold — no row-scale joins. The integer
    cross-product bounds (n_g·N) fit bigint through ~10^9 rows;
    beyond that, normalize per-class to micro units before the
    difference (noted, not needed at fixture scale)."""
    c = t(spark, sf_dir, "customer")
    rows_s = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor((F.col("c_acctbal") + 1000) / 2200).cast("long").alias("sb"),
    )
    tot = rows_s.agg(F.count(F.lit(1)).alias("n_total"))
    gdist = rows_s.groupBy("sb").agg(F.count(F.lit(1)).alias("g"))
    buckets = spark.range(5).select(F.col("id").cast("long").alias("sb"))
    gcum = (
        buckets.join(gdist, "sb", "left")
        .select("sb", F.coalesce("g", F.lit(0)).alias("g"))
        .withColumn(
            "cum_g",
            F.sum("g").over(
                Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("sb", "cum_g")
    )
    cdist = rows_s.groupBy("c_nationkey", "c_mktsegment", "sb").agg(
        F.count(F.lit(1)).alias("n")
    )
    classes = cdist.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n").alias("n_g")
    )
    dense = (
        classes.crossJoin(F.broadcast(buckets))
        .join(cdist, ["c_nationkey", "c_mktsegment", "sb"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_g",
            "sb",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    wcum = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("sb")
    cum = dense.withColumn("cum_n", F.sum("n").over(wcum))
    emd = (
        cum.join(F.broadcast(gcum), "sb")
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "n_g", "n_total")
        .agg(
            F.sum(
                F.when(
                    F.col("sb") < 4,
                    F.abs(
                        F.col("cum_n") * F.col("n_total")
                        - F.col("cum_g") * F.col("n_g")
                    ),
                ).otherwise(0)
            ).alias("gap_sum")
        )
        .select(
            "n_g",
            F.expr("(1000000 * gap_sum) div (4 * n_g * n_total)").alias(
                "emd_micro"
            ),
        )
    )
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("emd_micro").cast("long").alias("t_closeness_micro"),
        F.expr("sum(emd_micro) div count(*)").cast("long").alias("avg_emd_micro"),
        F.sum(F.when(F.col("emd_micro") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("emd_micro") > 200000, F.col("n_g")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    )
