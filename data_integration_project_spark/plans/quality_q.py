"""Quality-engine queries (reference V1-V5) over the driver tables.

``customer ≈ khach_hang`` (SURVEY.md §7). The driver tables are clean,
so dirt is injected deterministically (keyed on ``c_custkey % 10``),
reproducing the reference fixtures' dirty patterns (FIXTURES.md §A1:
truncated email ``test@``, 3-digit phone ``123``, out-of-range values,
unknown domain values, padded names). The Spark side runs the real
RuleSet engine; the oracle re-expresses the same fix+check predicates
in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import quality as Q
from .catalog import SQL_DSUM, dsum, query, run_tmpdir, t
from .text_kit import char_fold_sql

# ---------------------------------------------------------------------------
# Deterministic dirt injection (both engines must express this identically)
# ---------------------------------------------------------------------------

#: DuckDB twin of ``customer_ruleset``'s ``c_name`` fix
_SQL_C_NAME_FIXED = "trim(regexp_replace(c_name, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

_DIRTY_SQL_CTE = f"""
    WITH dirty AS (
      SELECT
        c_custkey,
        CASE WHEN c_custkey % 10 = 1
             THEN '  ' || c_name || '   ' ELSE c_name END AS c_name,
        CASE WHEN c_custkey % 10 = 3 THEN -99999.0 ELSE c_acctbal END AS c_acctbal,
        CASE WHEN c_custkey % 10 = 7 THEN 'UNKNOWN' ELSE c_mktsegment END AS c_mktsegment,
        CASE WHEN c_custkey % 10 = 5 THEN 'test@'
             ELSE 'user' || CAST(c_custkey AS VARCHAR) || '@Example.com' END AS email,
        CASE WHEN c_custkey % 10 = 9 THEN '123'
             ELSE '09-' || lpad(CAST(c_custkey % 100000000 AS VARCHAR), 8, '0') END AS sdt
      FROM customer
    ),
    fixed AS (
      SELECT
        c_custkey,
        {_SQL_C_NAME_FIXED} AS c_name,
        c_acctbal,
        c_mktsegment,
        lower(trim(email)) AS email,
        regexp_replace(sdt, '[^0-9]', '', 'g') AS sdt
      FROM dirty
    ),
    checked AS (
      SELECT *,
        (c_acctbal BETWEEN -1000 AND 10000) AS ok_acctbal,
        (c_mktsegment IN ('AUTOMOBILE','FURNITURE','MACHINERY','BUILDING','HOUSEHOLD')) AS ok_segment,
        regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}$') AS ok_email,
        regexp_matches(sdt, '^[0-9]{{9,11}}$') AS ok_phone,
        (c_name IS NOT NULL AND trim(c_name) <> '') AS ok_name
      FROM fixed
    )
"""


def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    mod = k % 10
    return c.select(
        k,
        F.when(mod == 1, F.concat(F.lit("  "), F.col("c_name"), F.lit("   ")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(mod == 3, F.lit(-99999.0)).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        F.when(mod == 7, F.lit("UNKNOWN")).otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(mod == 5, F.lit("test@"))
        .otherwise(F.concat(F.lit("user"), k.cast("string"), F.lit("@Example.com")))
        .alias("email"),
        F.when(mod == 9, F.lit("123"))
        .otherwise(F.concat(F.lit("09-"), F.lpad((k % 100000000).cast("string"), 8, "0")))
        .alias("sdt"),
    )


_SEGMENTS = ["AUTOMOBILE", "FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD"]


def customer_ruleset() -> Q.RuleSet:
    """khach_hang rules reconstructed from COMPLETE_DOCUMENTATION.md:265-278
    + dirty fixtures (FIXTURES.md §A1), applied to the customer mapping.
    Fixes mirror transform P1 (name collapse, email lower, phone digits)."""
    rs = Q.RuleSet("customer")
    rs.fix("c_name", Q.F.trim(Q.F.regexp_replace("c_name", r"\s+", " ")))
    rs.fix("email", Q.F.lower(Q.F.trim("email")))
    rs.fix("sdt", Q.F.regexp_replace("sdt", "[^0-9]", ""))
    rs.rule("name_not_blank", Q.not_blank("c_name"), "ho_ten is blank")
    rs.rule("acctbal_range", Q.in_range("c_acctbal", -1000, 10000), "acctbal out of range")
    rs.rule("segment_domain", Q.in_domain("c_mktsegment", _SEGMENTS), "unknown mktsegment")
    rs.rule("email_format", Q.valid_email("email"), "invalid email")
    rs.rule("phone_format", Q.matches("sdt", "^[0-9]{9,11}$"), "invalid phone")
    return rs


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


@query(
    "customer_quality_report",
    oracle=_DIRTY_SQL_CTE
    + """
    SELECT
      COUNT(*) AS total_rows,
      CAST(SUM(CASE WHEN ok_name AND ok_acctbal AND ok_segment AND ok_email AND ok_phone
               THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
      CAST(SUM(CASE WHEN NOT (ok_name AND ok_acctbal AND ok_segment AND ok_email AND ok_phone)
               THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
      CAST(SUM(CASE WHEN NOT ok_acctbal THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_acctbal,
      CAST(SUM(CASE WHEN NOT ok_segment THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_segment,
      CAST(SUM(CASE WHEN NOT ok_email THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_email,
      CAST(SUM(CASE WHEN NOT ok_phone THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_phone
    FROM checked
    """,
)
def customer_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1+V3 summary: one vectorized validation pass, then counts per
    rule from the ``_errors`` array (A4 pipeline-stats shape)."""
    validated = customer_ruleset().validate(_dirty_customers(spark, sf_dir))
    has = lambda msg: F.sum(F.when(F.array_contains("_errors", msg), 1).otherwise(0))
    return validated.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("_is_valid"), 1).otherwise(0)).alias("valid_rows"),
        F.sum(F.when(~F.col("_is_valid"), 1).otherwise(0)).alias("invalid_rows"),
        has("acctbal out of range").alias("n_bad_acctbal"),
        has("unknown mktsegment").alias("n_bad_segment"),
        has("invalid email").alias("n_bad_email"),
        has("invalid phone").alias("n_bad_phone"),
    )


@query(
    "customer_error_rows",
    oracle=_DIRTY_SQL_CTE
    + """
    SELECT
      c_custkey,
      concat_ws(' | ',
        CASE WHEN NOT ok_name THEN 'ho_ten is blank' END,
        CASE WHEN NOT ok_acctbal THEN 'acctbal out of range' END,
        CASE WHEN NOT ok_segment THEN 'unknown mktsegment' END,
        CASE WHEN NOT ok_email THEN 'invalid email' END,
        CASE WHEN NOT ok_phone THEN 'invalid phone' END) AS _errors
    FROM checked
    WHERE NOT (ok_name AND ok_acctbal AND ok_segment AND ok_email AND ok_phone)
    """,
)
def customer_error_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 error zone: rejected rows annotated with ' | '-joined messages
    (STEP3_QUALITY_ENGINE.py:146-149)."""
    _, error = customer_ruleset().split(_dirty_customers(spark, sf_dir))
    return error.select("c_custkey", "_errors")


@query(
    "customer_clean_rows",
    oracle=_DIRTY_SQL_CTE
    + """
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment, email, sdt
    FROM checked
    WHERE ok_name AND ok_acctbal AND ok_segment AND ok_email AND ok_phone
    """,
)
def customer_clean_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 clean zone with fixes applied — padded names arrive collapsed,
    emails lowercased, phones digit-stripped (fix-then-validate: repaired
    rows stay valid rather than being rejected)."""
    clean, _ = customer_ruleset().split(_dirty_customers(spark, sf_dir))
    return clean.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "email", "sdt")


@query(
    "orders_first_wins_dedup",
    oracle=f"""
    WITH unioned AS (
      SELECT 'csv' AS source, 1 AS priority, o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'sql' AS source, 2 AS priority, o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY priority) AS _dup_rank
      FROM unioned
    )
    SELECT source,
           COUNT(*) AS surviving_rows,
           {SQL_DSUM('o_totalprice', 'surviving_value', 2)}
    FROM ranked WHERE _dup_rank = 1
    GROUP BY source
    """,
)
def orders_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V5: deterministic first-wins dedup across two sources with
    explicit priority (CSV produced before SQL wins key collisions,
    main.py:663-700). Window on the key ordered by source priority —
    the scale-safe replacement for driver-side ``seen_ids`` state."""
    o = t(spark, sf_dir, "orders")
    csv = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit("csv").alias("source"), F.lit(1).alias("priority"), "o_orderkey", "o_totalprice"
    )
    sql = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.lit("sql").alias("source"), F.lit(2).alias("priority"), "o_orderkey", "o_totalprice"
    )
    ranked = Q.first_wins(csv.unionByName(sql), ["o_orderkey"], ["priority"])
    return (
        ranked.filter(F.col("_dup_rank") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("surviving_rows"),
            dsum(F.col("o_totalprice"), "surviving_value", 2),
        )
    )


# ---------------------------------------------------------------------------
# Missing-value imputation (group-mean fill)
# ---------------------------------------------------------------------------


@query(
    "customer_imputation",
    oracle="""
    WITH holed AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal
      FROM customer
    ),
    seg_mean AS (
      SELECT c_mktsegment,
             CAST(SUM(bal) / COUNT(bal) AS DECIMAL(18,2)) AS seg_mean
      FROM holed GROUP BY c_mktsegment
    )
    SELECT h.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN h.bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(MAX(s.seg_mean) AS DOUBLE) AS fill_value,
           CAST(SUM(COALESCE(h.bal, s.seg_mean)) AS DOUBLE) AS total_after_fill
    FROM holed h JOIN seg_mean s USING (c_mktsegment)
    GROUP BY h.c_mktsegment
    """,
)
def customer_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation — the ML-preprocessing fill for missing
    numerics, done relationally: nulls are punched into every 7th
    balance, per-segment means are computed over the REMAINING values
    (exact decimal: mean = decimal sum / count, quantized to 2 dp so
    the fill value is the same bits in both engines), and a broadcast
    join fills the holes. The report per segment: how many were
    imputed, with what value, and the post-fill total.

    Shape: one groupBy for the means (broadcast back — |segments|
    rows), one map-side fill, one rollup; the data never shuffles for
    the fill itself."""
    c = t(spark, sf_dir, "customer")
    holed = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_acctbal").cast("decimal(18,2)"))
        .alias("bal"),
    )
    seg_mean = holed.groupBy("c_mktsegment").agg(
        (F.sum("bal") / F.count("bal")).cast("decimal(18,2)").alias("seg_mean")
    )
    filled = holed.join(F.broadcast(seg_mean), "c_mktsegment")
    return filled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("bal").isNull().cast("long")).alias("n_imputed"),
        F.max("seg_mean").cast("double").alias("fill_value"),
        F.sum(F.coalesce(F.col("bal"), F.col("seg_mean")))
        .cast("double")
        .alias("total_after_fill"),
    )


# ---------------------------------------------------------------------------
# Winsorization (percentile clipping)
# ---------------------------------------------------------------------------


@query(
    "orders_winsorized_stats",
    oracle="""
    WITH ranked AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    cuts AS (
      SELECT MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN p END) AS lo,
             MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN p END) AS hi
      FROM ranked
    )
    SELECT CAST(c.lo AS DOUBLE) AS p05,
           CAST(c.hi AS DOUBLE) AS p95,
           CAST(SUM(CASE WHEN r.p < c.lo OR r.p > c.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
           CAST(SUM(r.p) AS DOUBLE) AS total_raw,
           -- DuckDB's LEAST/GREATEST return DOUBLE even on decimals;
           -- re-cast before SUM to keep the exact-decimal fold
           CAST(SUM(CAST(LEAST(GREATEST(r.p, c.lo), c.hi) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_winsorized
    FROM ranked r CROSS JOIN cuts c
    GROUP BY c.lo, c.hi
    """,
)
def orders_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip order values to the exact [p5, p95] band —
    the outlier treatment feature pipelines apply before scaling, with
    the cut points defined by discrete rank (rn = ceil(n·q/100), the
    percentile_disc convention) so both engines pick the identical
    data values as cuts. Exact-decimal totals before/after quantify
    what clipping moved.

    Shape note: the global row_number is the same single-sort caveat as
    orders_quantile_buckets — at 100 TB the cuts come from the
    sample-based boundary pattern (orders_range_partition_hist) and
    clipping stays a map-side LEAST/GREATEST against two broadcast
    scalars."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    cuts = ranked.agg(
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") * 5 + 99) / 100), F.col("p"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") * 95 + 99) / 100), F.col("p"))
        ).alias("hi"),
    )
    r = ranked.crossJoin(F.broadcast(cuts))
    clipped = F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
    return r.groupBy("lo", "hi").agg(
        F.sum(
            ((F.col("p") < F.col("lo")) | (F.col("p") > F.col("hi"))).cast("long")
        ).alias("n_clipped"),
        F.sum("p").cast("double").alias("total_raw"),
        F.sum(clipped).cast("double").alias("total_winsorized"),
    ).select(
        F.col("lo").cast("double").alias("p05"),
        F.col("hi").cast("double").alias("p95"),
        "n_clipped",
        "total_raw",
        "total_winsorized",
    )


# ---------------------------------------------------------------------------
# Deterministic pseudonymization (governance: referentially-stable tokens)
# ---------------------------------------------------------------------------


@query(
    "customers_pseudonymized",
    oracle="""
    WITH tok AS (
      SELECT c_custkey, c_mktsegment,
             'cust-' || substr(md5('pepper:' || c_name), 1, 12) AS name_token
      FROM customer
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT name_token) AS n_distinct_tokens,
           MIN(name_token) AS sample_token
    FROM tok GROUP BY c_mktsegment
    """,
)
def customers_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance: PSEUDONYMIZATION with deterministic, referentially
    stable tokens — names become `cust-<md5(pepper:name)[:12]>`, so the
    same person maps to the same token in every table and every run
    (joins and dedup still work on tokenized data), while the raw
    value never leaves the engine. Distinct-token counts per segment
    prove injectivity held on this corpus (tokens == customers); the
    pepper models the secret that rotates to sever re-identification.

    Unlike doc_pii_scrub (destructive redaction for training text),
    this is the analytics-preserving transform for sharing relational
    data. Pure codegen projection — zero cost at any scale."""
    c = t(spark, sf_dir, "customer")
    token = F.concat(
        F.lit("cust-"),
        F.substring(F.md5(F.concat(F.lit("pepper:"), F.col("c_name"))), 1, 12),
    )
    return (
        c.select("c_mktsegment", token.alias("name_token"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("name_token").alias("n_distinct_tokens"),
            F.min("name_token").alias("sample_token"),
        )
    )


@query(
    "customer_error_replay",
    oracle=_DIRTY_SQL_CTE
    + """
    , errors AS (
      SELECT * FROM checked
      WHERE NOT (ok_name AND ok_acctbal AND ok_segment AND ok_email AND ok_phone)
    ),
    relaxed AS (
      SELECT c_custkey, c_name, c_acctbal, email,
             CASE WHEN c_mktsegment NOT IN
                    ('AUTOMOBILE','FURNITURE','MACHINERY','BUILDING','HOUSEHOLD')
                  THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment,
             CASE WHEN length(sdt) < 9 THEN lpad(sdt, 9, '0') ELSE sdt END AS sdt
      FROM errors
    ),
    rechecked AS (
      SELECT c_custkey,
        (c_acctbal BETWEEN -1000 AND 10000) AS ok_acctbal,
        (c_mktsegment IN ('AUTOMOBILE','FURNITURE','MACHINERY','BUILDING','HOUSEHOLD'))
          AS ok_segment,
        regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
          AS ok_email,
        regexp_matches(sdt, '^[0-9]{9,11}$') AS ok_phone,
        (c_name IS NOT NULL AND trim(c_name) <> '') AS ok_name
      FROM relaxed
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN ok_name AND ok_acctbal AND ok_segment
                              AND ok_email AND ok_phone
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
           CAST(SUM(CASE WHEN NOT (ok_name AND ok_acctbal AND ok_segment
                                   AND ok_email AND ok_phone)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_still_bad,
           CAST(SUM(CASE WHEN ok_name AND ok_acctbal AND ok_segment
                              AND ok_email AND ok_phone
                    THEN c_custkey ELSE 0 END) AS BIGINT) AS recovered_checksum
    FROM rechecked
    """,
)
def customer_error_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUARANTINE REPLAY — the operational second half of the
    clean/error split (V3): rows the strict pass rejected get a second
    pass with remediation fixes an operator signed off on (default the
    unknown segment, zero-pad short phone numbers) and the SAME strict
    validation; what now passes is released, the rest stays
    quarantined. Two RuleSet applications, no new machinery — the
    engine's fix→validate loop composes. The recovered-set checksum
    certifies exactly WHICH rows were released (the release list is an
    audit artifact). Unfixable injections (out-of-range balances,
    truncated emails) must stay quarantined — if the relaxation
    accidentally waives them, counts move and the hash fails."""
    strict = customer_ruleset()
    validated = strict.validate(_dirty_customers(spark, sf_dir))
    errors = validated.filter(~F.col("_is_valid")).drop("_errors", "_is_valid")
    replay = Q.RuleSet("customer_replay")
    replay.fix(
        "c_mktsegment",
        F.when(
            ~F.col("c_mktsegment").isin(_SEGMENTS), F.lit("MACHINERY")
        ).otherwise(F.col("c_mktsegment")),
    )
    replay.fix(
        "sdt",
        F.when(F.length("sdt") < 9, F.lpad("sdt", 9, "0")).otherwise(
            F.col("sdt")
        ),
    )
    for name, rule in [
        ("name_not_blank", Q.not_blank("c_name")),
        ("acctbal_range", Q.in_range("c_acctbal", -1000, 10000)),
        ("segment_domain", Q.in_domain("c_mktsegment", _SEGMENTS)),
        ("email_format", Q.valid_email("email")),
        ("phone_format", Q.matches("sdt", "^[0-9]{9,11}$")),
    ]:
        replay.rule(name, rule, name)
    re_validated = replay.validate(errors)
    ok = F.col("_is_valid")
    return re_validated.agg(
        F.count(F.lit(1)).cast("long").alias("n_quarantined"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_recovered"),
        F.sum(F.when(~ok, 1).otherwise(0)).cast("long").alias("n_still_bad"),
        F.sum(F.when(ok, F.col("c_custkey")).otherwise(0))
        .cast("long")
        .alias("recovered_checksum"),
    )


# ---------------------------------------------------------------------------
# Declarative constraint suite (Deequ-style, single-pass metrics)
# ---------------------------------------------------------------------------


@query(
    "orders_constraint_suite",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_key,
             CAST(SUM(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_nonneg,
             CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_domain,
             CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_pattern
      FROM orders
    ),
    r AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT check_name, metric,
           CAST(CASE WHEN metric >= threshold THEN 1 ELSE 0 END AS BIGINT)
             AS passed
    FROM (
      SELECT 'completeness_custkey' AS check_name,
             CAST(n_custkey AS DOUBLE) / n AS metric, 1.0 AS threshold FROM m
      UNION ALL
      SELECT 'uniqueness_orderkey',
             CAST(n_distinct_key AS DOUBLE) / n, 1.0 FROM m
      UNION ALL
      SELECT 'non_negative_totalprice',
             CAST(n_nonneg AS DOUBLE) / n, 1.0 FROM m
      UNION ALL
      SELECT 'domain_orderstatus',
             CAST(n_domain AS DOUBLE) / n, 1.0 FROM m
      UNION ALL
      SELECT 'pattern_orderpriority',
             CAST(n_pattern AS DOUBLE) / n, 1.0 FROM m
      UNION ALL
      SELECT 'referential_custkey',
             CAST(n_matched AS DOUBLE) / n, 1.0 FROM m CROSS JOIN r
      UNION ALL
      SELECT 'min_size_1000',
             CAST(n AS DOUBLE), 1000.0 FROM m
    )
    ORDER BY check_name
    """,
)
def orders_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ pattern,
    Schelter et al., VLDB'18): seven constraints — completeness,
    key uniqueness, range, value domain, regex pattern, referential
    integrity, minimum size — evaluated as ONE metrics pass over the
    fact table plus one key-matched join for the referential leg, then
    unpivoted into (constraint, metric, passed) rows.

    This is the engine-side generalization of the reference's
    per-entity rule lists (etl/validate.py): instead of row-at-a-time
    fix/validate, the suite computes table-level metrics in a single
    map-side-combined aggregate — the shape that still works when the
    table is 100 TB (metrics are one row; the referential join
    shuffles on the key or broadcasts the dim).
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    m = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("o_custkey").cast("long").alias("n_custkey"),
        F.countDistinct("o_orderkey").cast("long").alias("n_distinct_key"),
        F.sum(F.when(F.col("o_totalprice") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonneg"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
        .cast("long")
        .alias("n_domain"),
        F.sum(
            F.when(F.col("o_orderpriority").rlike("^[1-5]-"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_pattern"),
    )
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    base = m.join(r)
    rows = base.selectExpr(
        """stack(7,
             'completeness_custkey', CAST(n_custkey AS DOUBLE) / n, 1.0D,
             'uniqueness_orderkey', CAST(n_distinct_key AS DOUBLE) / n, 1.0D,
             'non_negative_totalprice', CAST(n_nonneg AS DOUBLE) / n, 1.0D,
             'domain_orderstatus', CAST(n_domain AS DOUBLE) / n, 1.0D,
             'pattern_orderpriority', CAST(n_pattern AS DOUBLE) / n, 1.0D,
             'referential_custkey', CAST(n_matched AS DOUBLE) / n, 1.0D,
             'min_size_1000', CAST(n AS DOUBLE), 1000.0D
           ) AS (check_name, metric, threshold)"""
    )
    return rows.select(
        "check_name",
        "metric",
        F.when(F.col("metric") >= F.col("threshold"), 1)
        .otherwise(0)
        .cast("long")
        .alias("passed"),
    ).orderBy("check_name")


@query(
    "orders_fd_discovery",
    oracle="""
    WITH wide AS (
      SELECT o.o_custkey, c.c_nationkey, o.o_orderstatus, o.o_orderpriority,
             CAST(strftime(o.o_orderdate, '%Y') AS INTEGER) AS order_year
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    pairs AS (
      SELECT 'o_custkey->c_nationkey' AS fd, CAST(o_custkey AS VARCHAR) AS lhs,
             CAST(c_nationkey AS VARCHAR) AS rhs FROM wide
      UNION ALL
      SELECT 'o_orderstatus->o_orderpriority', o_orderstatus, o_orderpriority
      FROM wide
      UNION ALL
      SELECT 'o_orderstatus->order_year', o_orderstatus,
             CAST(order_year AS VARCHAR) FROM wide
      UNION ALL
      SELECT 'o_orderpriority->o_orderstatus', o_orderpriority, o_orderstatus
      FROM wide
    ),
    per_lhs AS (
      SELECT fd, lhs, SUM(cnt) AS n_rows, COUNT(*) AS n_rhs,
             MAX(cnt) AS max_rhs_rows
      FROM (SELECT fd, lhs, rhs, COUNT(*) AS cnt
            FROM pairs GROUP BY fd, lhs, rhs)
      GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(n_rows - max_rhs_rows) AS BIGINT) AS min_repairs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS violation_rate
    FROM per_lhs GROUP BY fd
    """,
)
def orders_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY DISCOVERY (Metanome/Holoclean-style data
    profiling): for candidate A->B dependencies over the denormalized
    order stream, measure how functional each really is — groups where
    one determinant value maps to multiple dependent values are
    violations, and ``min_repairs`` (rows minus the majority value per
    group) is the minimum-change repair cost a Holoclean-style cleaner
    would pay. ``o_custkey->c_nationkey`` must come out EXACTLY
    functional (it is a real FK-implied FD — violation_rate 0) while
    the status/priority pairs quantify near-dependencies; asserting a
    known-true FD and known-false ones in one report is how profilers
    are validated.

    Scale shape: one union-of-projections pass, then two stacked
    map-side-combined aggregates — (fd, lhs, rhs) counts, reaggregated
    to (fd, lhs), then (fd). The widest shuffle carries the distinct
    (fd, lhs, rhs) triple count, not the row count."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    wide = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_custkey",
        "c_nationkey",
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
    )
    # round-9 (guide §2.4): was a 4-branch union of projections of the
    # SAME joined stream — four scans+joins. One pass emits all four
    # candidate pairs per row via explode (identical row multiset).
    pairs = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(fd).alias("fd"),
                        F.col(lhs).cast("string").alias("lhs"),
                        F.col(rhs).cast("string").alias("rhs"),
                    )
                    for fd, lhs, rhs in [
                        ("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
                        (
                            "o_orderstatus->o_orderpriority",
                            "o_orderstatus",
                            "o_orderpriority",
                        ),
                        ("o_orderstatus->order_year", "o_orderstatus", "order_year"),
                        (
                            "o_orderpriority->o_orderstatus",
                            "o_orderpriority",
                            "o_orderstatus",
                        ),
                    ]
                ]
            )
        ).alias("_p")
    ).select("_p.fd", "_p.lhs", "_p.rhs")
    per_value = pairs.groupBy("fd", "lhs", "rhs").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_lhs = per_value.groupBy("fd", "lhs").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_rhs"),
        F.max("cnt").alias("max_rhs_rows"),
    )
    return per_lhs.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).alias(
            "violating_groups"
        ),
        F.sum("n_rows").alias("n_rows"),
        F.sum(F.col("n_rows") - F.col("max_rhs_rows")).alias("min_repairs"),
        (
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("violation_rate"),
    )


@query(
    "customer_jaro_winkler_match",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey, c_name, c_nationkey,
             substr(c_name, 1, 16) AS blk
      FROM customer
    )
    SELECT key_a, key_b, name_a, name_b, jw_micro FROM (
      SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
             a.c_name AS name_a, b.c_name AS name_b,
             CAST(floor(jaro_winkler_similarity(a.c_name, b.c_name) * 1000000
                        + 0.5) AS BIGINT) AS jw_micro
      FROM blocked a JOIN blocked b
        ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
       AND a.c_custkey < b.c_custkey)
    WHERE jw_micro >= 960000
    """,
)
def customer_jaro_winkler_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARO-WINKLER entity resolution on the same (nation, name-prefix)
    blocks as [[customer_fuzzy_match]] — the similarity measure record-
    linkage practice actually prefers over edit distance for names,
    because transpositions and shared prefixes score the way human
    name variants behave (Winkler's prefix boost, p=0.1 over the first
    4 chars, above the 0.7 threshold). Spark computes it in an
    Arrow-batched pandas stage over the blocked candidate pairs with a
    from-spec implementation (match window max(|a|,|b|)/2-1,
    transposition halving); the oracle uses DuckDB's independent
    built-in — both rounded half-away to integer micro-units, so the
    two implementations must agree to 1e-6 on every pair that clears
    the 0.96 gate.

    Scale shape: identical to the levenshtein variant — blocking turns
    O(N²) into Σ|block|² inside an equi-join — PLUS the distinct-pair
    dimension: the Python scorer runs once per DISTINCT (name_a,
    name_b) pair and joins back to instance pairs, the same
    Zipf-bounded-dimension trick hashed tokenization uses
    (operators/dedup.hashed_token_rows). On duplicate-heavy corpora
    instance pairs outnumber distinct name pairs quadratically in the
    dup count — the sf1.0 sweep measured 62s scoring ~3M instance
    pairs vs seconds for the ~30k distinct ones."""
    from collections.abc import Iterator

    import pandas as pd

    cust = t(spark, sf_dir, "customer")
    blocked = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 1, 16).alias("blk"),
    )
    a = blocked.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        "c_nationkey",
        "blk",
    )
    b = blocked.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        "c_nationkey",
        "blk",
    )
    pairs = (
        a.join(b, ["c_nationkey", "blk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def jaro(s1: str, s2: str) -> float:
            if s1 == s2:
                return 1.0
            l1, l2 = len(s1), len(s2)
            if not l1 or not l2:
                return 0.0
            window = max(max(l1, l2) // 2 - 1, 0)
            m1 = [False] * l1
            m2 = [False] * l2
            matches = 0
            for i in range(l1):
                for j in range(max(0, i - window), min(l2, i + window + 1)):
                    if not m2[j] and s1[i] == s2[j]:
                        m1[i] = m2[j] = True
                        matches += 1
                        break
            if matches == 0:
                return 0.0
            t_half = 0
            k = 0
            for i in range(l1):
                if m1[i]:
                    while not m2[k]:
                        k += 1
                    if s1[i] != s2[k]:
                        t_half += 1
                    k += 1
            t = t_half // 2
            return (
                matches / l1 + matches / l2 + (matches - t) / matches
            ) / 3

        def jw_micro(s1: str, s2: str) -> int:
            j = jaro(s1, s2)
            if j > 0.7:
                pre = 0
                for x, y in zip(s1[:4], s2[:4]):
                    if x != y:
                        break
                    pre += 1
                j += pre * 0.1 * (1 - j)
            return int(math.floor(j * 1000000 + 0.5))

        for pdf in batches:
            out = pdf.copy()
            out["jw_micro"] = [
                jw_micro(x, y) for x, y in zip(pdf["name_a"], pdf["name_b"])
            ]
            yield out

    scored_names = (
        pairs.select("name_a", "name_b")
        .distinct()
        .mapInPandas(op, schema="name_a string, name_b string, jw_micro long")
        .filter(F.col("jw_micro") >= 960000)
    )
    # No broadcast hint: the distinct-name-pair dim grows with name
    # diversity; AQE broadcasts while it fits.
    return pairs.join(scored_names, ["name_a", "name_b"]).select(
        "key_a", "key_b", "name_a", "name_b", "jw_micro"
    )


@query(
    "customers_aes_envelope",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
           CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_distinct_ct,
           CAST(COUNT(*) AS BIGINT) AS n_rotated_ok
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def customers_aes_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-LEVEL ENCRYPTION envelope for PII at rest — Spark's
    JVM-side ``aes_encrypt``/``aes_decrypt`` (codegen, no Python in the
    path) in deterministic ECB mode so equality survives encryption
    (the property that lets encrypted keys still JOIN and GROUP — the
    trade a real deployment makes consciously vs randomized GCM). The
    query encrypts ``c_name`` under a data-encryption key, proves three
    envelope invariants per segment and puts them on the hash:
    round-trip fidelity (decrypt(encrypt(x)) = x for every row),
    determinism (distinct ciphertexts = distinct plaintexts), and KEY
    ROTATION (decrypt-with-old + re-encrypt-with-new + decrypt-with-new
    = identity) — the rotate path touching only ciphertext columns, no
    plaintext materialized between keys.

    Scale shape: pure projection chain inside whole-stage codegen +
    one aggregate; nothing leaves the JVM."""
    OLD_KEY, NEW_KEY = "0123456789abcdef", "fedcba9876543210"
    c = t(spark, sf_dir, "customer")
    enc = c.select(
        "c_mktsegment",
        "c_name",
        F.aes_encrypt(F.col("c_name"), F.lit(OLD_KEY), F.lit("ECB")).alias("ct"),
    )
    rotated = enc.withColumn(
        "ct2",
        F.aes_encrypt(
            F.aes_decrypt(F.col("ct"), F.lit(OLD_KEY), F.lit("ECB")).cast(
                "string"
            ),
            F.lit(NEW_KEY),
            F.lit("ECB"),
        ),
    )
    checked = rotated.select(
        "c_mktsegment",
        "c_name",
        "ct",
        (
            F.aes_decrypt(F.col("ct"), F.lit(OLD_KEY), F.lit("ECB")).cast("string")
            == F.col("c_name")
        ).alias("rt_ok"),
        (
            F.aes_decrypt(F.col("ct2"), F.lit(NEW_KEY), F.lit("ECB")).cast("string")
            == F.col("c_name")
        ).alias("rot_ok"),
    )
    return checked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("rt_ok"), 1).otherwise(0)).alias("n_roundtrip_ok"),
        F.countDistinct("ct").alias("n_distinct_ct"),
        F.sum(F.when(F.col("rot_ok"), 1).otherwise(0)).alias("n_rotated_ok"),
    )


def _matching_round_sql(prev_edges: str, rnd: int) -> str:
    """One parallel greedy maximal-matching round: an edge is selected
    iff it is the best remaining edge (dist asc, pair asc) for BOTH of
    its endpoints; matched nodes leave the pool."""
    return f""",
    incid_{rnd} AS (
      SELECT a AS node, a, b, d FROM {prev_edges}
      UNION ALL
      SELECT b AS node, a, b, d FROM {prev_edges}
    ),
    best_{rnd} AS (
      SELECT node, a, b FROM (
        SELECT node, a, b,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY d, a, b) AS rk
        FROM incid_{rnd}) WHERE rk = 1
    ),
    sel_{rnd} AS MATERIALIZED (
      SELECT e.a, e.b, e.d FROM {prev_edges} e
      JOIN best_{rnd} x ON x.node = e.a AND x.a = e.a AND x.b = e.b
      JOIN best_{rnd} y ON y.node = e.b AND y.a = e.a AND y.b = e.b
    ),
    edges_{rnd} AS MATERIALIZED (
      SELECT e.a, e.b, e.d FROM {prev_edges} e
      WHERE NOT EXISTS (SELECT 1 FROM sel_{rnd} s
                        WHERE s.a IN (e.a, e.b) OR s.b IN (e.a, e.b))
    )"""


@query(
    "customer_one_to_one_linkage",
    oracle=f"""
    WITH blocked AS (
      SELECT c_custkey, c_name, c_nationkey,
             substr(c_name, 1, 16) AS blk
      FROM customer
    ),
    edges_0 AS MATERIALIZED (
      SELECT a.c_custkey AS a, b.c_custkey AS b,
             levenshtein(a.c_name, b.c_name) AS d
      FROM blocked a JOIN blocked b
        ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
    ){_matching_round_sql("edges_0", 1)}{_matching_round_sql("edges_1", 2)}{_matching_round_sql("edges_2", 3)}
    SELECT CAST(a AS BIGINT) AS key_a, CAST(b AS BIGINT) AS key_b,
           CAST(d AS INTEGER) AS edit_dist, CAST(rnd AS INTEGER) AS round
    FROM (
      SELECT a, b, d, 1 AS rnd FROM sel_1
      UNION ALL SELECT a, b, d, 2 FROM sel_2
      UNION ALL SELECT a, b, d, 3 FROM sel_3)
    """,
)
def customer_one_to_one_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-TO-ONE record linkage — the assignment step that turns
    scored candidate pairs ([[customer_fuzzy_match]],
    [[customer_jaro_winkler_match]]) into an actual deduplication
    decision where each record merges with AT MOST one partner.
    Greedy maximal matching by (edit distance asc, pair asc), run as
    PARALLEL handshake rounds: an edge is selected iff it is the best
    remaining edge for BOTH endpoints (locally checkable — no
    sequential scan over a global edge order), selected nodes leave
    the pool, three rounds saturate the blocked graph. This is the
    distributed form of the classic greedy matching (each round is a
    per-node argmin + a double semi-join), and its determinism comes
    from the same total order on edges both engines apply.

    Scale shape — the DISTINCT-NAME QUOTIENT rewrite (round-6; the
    instance-level handshake was the largest remaining sf1.0 cost at
    26s because a dup-dense corpus gives a k-duplicate name k² d=0
    edges). The instance graph is never materialized; instead:

    * A name with ≥2 remaining instances is INTERNAL: every member's
      best edge is an in-group d=0 edge (cross-name edges have d≥1),
      so (a) exactly one in-group pair — the two smallest remaining
      keys — is mutually-best and selected per round, and (b) every
      member is inert in the cross-name graph (no cross edge touching
      it can be best-for-both). In-group pairing is a per-name array
      operation, O(N) total, no join.
    * A name with exactly 1 remaining instance is EXPOSED and plays
      the handshake on the QUOTIENT graph (distinct (nation, name)
      nodes, levenshtein 1..2 edges within the block — dup-invariant
      size). Tie-breaks use the real instance keys: the best instance
      of any name is its minimum remaining key, so each quotient edge
      carries (d, min-key pair) — bit-identical ordering to the
      instance algorithm. Internal names participate as BLOCKERS
      (an exposed node whose best edge points at an internal name
      stays unmatched that round), exactly as their inert instances
      block in the instance-level algorithm.

    Per round: one array slice (in-group pairs), one quotient-edge
    re-key join, one per-node argmin shuffle, one mutual-best join.
    The oracle is UNCHANGED (the instance-level SQL handshake), so the
    gate proves the quotient rewrite emits the identical matching; the
    multiplicity paths (the gate fixtures have no duplicate names) are
    pinned by tests/test_quality.py's planted-duplicate comparison
    against a pure-Python instance-level handshake."""
    return quotient_one_to_one_matching(spark, t(spark, sf_dir, "customer"))


def quotient_one_to_one_matching(spark: SparkSession, cust: DataFrame) -> DataFrame:
    """Greedy maximal matching (3 handshake rounds) on the distinct-name
    quotient graph — see customer_one_to_one_linkage's docstring. Input
    needs c_custkey / c_name / c_nationkey columns."""
    # state: one row per remaining (nation, name) with its sorted
    # remaining instance keys
    state = (
        cust.groupBy(
            F.col("c_nationkey").alias("nat"), F.col("c_name").alias("name")
        )
        .agg(F.sort_array(F.collect_list("c_custkey")).alias("ks"))
        .localCheckpoint(eager=True)
    )
    # quotient edges, computed once: distinct-name pairs in the same
    # (nation, 16-prefix) block with levenshtein 1..2 (d=0 across
    # DIFFERENT names is impossible; same-name d=0 is the multiplicity)
    dn = state.select("nat", "name", F.substring("name", 1, 16).alias("blk"))
    qa = dn.select("nat", "blk", F.col("name").alias("na"))
    qb = dn.select("nat", "blk", F.col("name").alias("nb"))
    qedges = (
        qa.join(qb, ["nat", "blk"])
        .filter(F.col("na") < F.col("nb"))
        .select("nat", "na", "nb", F.levenshtein("na", "nb").alias("d"))
        .filter(F.col("d") <= 2)
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window as W

    out = []
    for rnd in range(1, 4):
        sz = F.size("ks")
        # in-group: two smallest remaining keys of every ≥2 name
        ingroup = state.filter(sz >= 2).select(
            F.col("ks")[0].alias("a"),
            F.col("ks")[1].alias("b"),
            F.lit(0).alias("d"),
            F.lit(rnd).alias("round"),
        )
        out.append(ingroup.localCheckpoint(eager=True))
        # cross-name handshake on the quotient, re-keyed to this
        # round's min instance keys; cnt distinguishes exposed/blocker
        mk = state.select(
            "nat", "name", F.col("ks")[0].alias("mk"), sz.alias("cnt")
        )
        e = (
            qedges.join(
                mk.select(
                    "nat",
                    F.col("name").alias("na"),
                    F.col("mk").alias("mka"),
                    F.col("cnt").alias("cnta"),
                ),
                ["nat", "na"],
            )
            .join(
                mk.select(
                    "nat",
                    F.col("name").alias("nb"),
                    F.col("mk").alias("mkb"),
                    F.col("cnt").alias("cntb"),
                ),
                ["nat", "nb"],
            )
            .select(
                "nat",
                "na",
                "nb",
                "d",
                "cnta",
                "cntb",
                F.least("mka", "mkb").alias("a"),
                F.greatest("mka", "mkb").alias("b"),
            )
        )
        incid = e.select(F.col("na").alias("node"), "nat", "na", "nb", "d", "a", "b").unionAll(
            e.select(F.col("nb").alias("node"), "nat", "na", "nb", "d", "a", "b")
        )
        best = (
            incid.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("nat", "node").orderBy("d", "a", "b")
                ),
            )
            .filter(F.col("rk") == 1)
            .select("nat", "node", F.col("na").alias("ea"), F.col("nb").alias("eb"))
        )
        exposed_e = (
            e.filter((F.col("cnta") == 1) & (F.col("cntb") == 1))
            .select("nat", "na", "nb", "d", "a", "b")
            .alias("s")
        )
        sel = (
            exposed_e.join(
                best.alias("b1"),
                (F.col("b1.nat") == F.col("s.nat"))
                & (F.col("b1.node") == F.col("s.na"))
                & (F.col("b1.ea") == F.col("s.na"))
                & (F.col("b1.eb") == F.col("s.nb")),
            )
            .join(
                best.alias("b2"),
                (F.col("b2.nat") == F.col("s.nat"))
                & (F.col("b2.node") == F.col("s.nb"))
                & (F.col("b2.ea") == F.col("s.na"))
                & (F.col("b2.eb") == F.col("s.nb")),
            )
            .select(
                F.col("s.nat").alias("nat"),
                F.col("s.na").alias("na"),
                F.col("s.nb").alias("nb"),
                F.col("s.d").alias("d"),
                F.col("s.a").alias("a"),
                F.col("s.b").alias("b"),
            )
            .localCheckpoint(eager=True)
        )
        out.append(
            sel.select("a", "b", "d", F.lit(rnd).alias("round"))
        )
        # update state: internal names drop their matched pair; names
        # matched cross-name (exposed, cnt=1) drop out entirely
        matched_names = sel.select("nat", F.col("na").alias("name")).unionAll(
            sel.select("nat", F.col("nb").alias("name"))
        )
        state = (
            state.join(matched_names, ["nat", "name"], "left_anti")
            .select(
                "nat",
                "name",
                F.when(sz >= 2, F.slice("ks", 3, F.greatest(sz - 2, F.lit(0))))
                .otherwise(F.col("ks"))
                .alias("ks"),
            )
            .filter(F.size("ks") >= 1)
            .localCheckpoint(eager=True)
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res.select(
        F.col("a").cast("long").alias("key_a"),
        F.col("b").cast("long").alias("key_b"),
        F.col("d").cast("int").alias("edit_dist"),
        F.col("round").cast("int").alias("round"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe categorical encoding (leave-one-out target encoding)
# ---------------------------------------------------------------------------


@query(
    "orders_target_encoding_loo",
    oracle="""
    WITH y AS (
      SELECT o_orderpriority AS cat,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS yc
      FROM orders
    ),
    agg AS (SELECT cat, SUM(yc) AS s, COUNT(*) AS n FROM y GROUP BY cat)
    SELECT y.cat AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(a.s) // COUNT(*) AS BIGINT) AS naive_sum_cents,
           CAST(SUM(CASE WHEN a.n > 1
                    THEN ((a.s - y.yc) * 100) // (a.n - 1)
                    END) AS BIGINT) AS loo_sum_centicents
    FROM y JOIN agg a ON y.cat = a.cat
    GROUP BY y.cat
    """,
)
def orders_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING — the leakage-safe way to turn a
    categorical column into a numeric feature: each row's encoding is
    the mean target of its category EXCLUDING the row itself,
    (Σ_cat − y_i) / (n_cat − 1), so the feature never contains the
    row's own label (naive mean encoding leaks the target and inflates
    validation scores). Money stays in INTEGER centi-cents end to end
    (floor division) — no float ever touches the encoding, so the
    report hashes identically in both engines.

    Scale shape: category statistics are a |categories|-row aggregate
    BROADCAST back onto the fact (map-side only — no window shuffle of
    the fact table), then one map-side-combined rollup. At 100 TB the
    fact never shuffles for the encoding itself."""
    o = t(spark, sf_dir, "orders")
    y = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("yc"),
    )
    agg = y.groupBy("cat").agg(
        F.sum("yc").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # integer centi-cents with floor division: no float rounding at
    # half-cent boundaries (dividing by small n-1 lands there often,
    # and Spark HALF_UP vs DuckDB half-even disagree exactly there)
    loo_cc = F.when(
        F.col("n") > 1,
        F.expr("((s - yc) * 100) div (n - 1)"),
    )
    return (
        y.join(F.broadcast(agg), "cat")
        .groupBy(F.col("cat").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer division on BOTH sides: SUM(s) here is n*s per
            # category and exceeds 2^53 well before sf1.0, where the
            # float quotient stops being integral and Spark's
            # truncate-toward-zero cast vs DuckDB's round-to-nearest
            # cast diverge by 1 (a latent parity break the sf0.001
            # fixture masks).
            F.expr("sum(s) div count(1)").alias("naive_sum_cents"),
            F.sum(loo_cc).cast("long").alias("loo_sum_centicents"),
        )
    )


# ---------------------------------------------------------------------------
# Differentially-private release (deterministic Laplace for the oracle)
# ---------------------------------------------------------------------------


@query(
    "orders_dp_noisy_counts",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM orders GROUP BY o_orderstatus
    ),
    h AS (
      SELECT *,
        (list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(o_orderstatus || ':dp-seed-1', ''),
                          x -> CAST(ascii(x) AS BIGINT))),
           (acc, x) -> (acc*31 + x) % 2147483647) % 1000000 + 0.5)
          / 1000000.0 AS u
      FROM c
    )
    SELECT o_orderstatus, true_count,
           round(CASE WHEN u >= 0.5 THEN -20.0 * ln(2.0 * (1.0 - u))
                      ELSE 20.0 * ln(2.0 * u) END, 4) AS laplace_noise,
           round(true_count + CASE WHEN u >= 0.5 THEN -20.0 * ln(2.0 * (1.0 - u))
                                   ELSE 20.0 * ln(2.0 * u) END, 4) AS noisy_count
    FROM h
    """,
)
def orders_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE COUNT RELEASE (ε = 0.05, sensitivity 1 →
    Laplace scale b = 20): the governance query that publishes
    per-status order counts with calibrated noise instead of exact
    values. Noise comes from the inverse-CDF transform of a uniform
    draw; the draw here is DETERMINISTIC (portable char-fold hash of
    the key + a seed label) so both engines — and reruns — produce the
    same release, which is what makes the mechanism ORACLE-CHECKABLE.
    A production deployment swaps the hash for real randomness and a
    privacy accountant; the relational shape (aggregate → per-key
    scalar transform) is identical.

    Scale shape: one map-side-combined count, then a per-row
    projection over |statuses| rows — free at any fact size."""
    from ..functions.text import char_fold_hash

    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("true_count"))
    u = (
        char_fold_hash(F.concat(F.col("o_orderstatus"), F.lit(":dp-seed-1")))
        % 1000000
        + 0.5
    ) / 1000000.0
    noise = F.when(
        u >= 0.5, -20.0 * F.log(2.0 * (1.0 - u))
    ).otherwise(20.0 * F.log(2.0 * u))
    return c.select(
        "o_orderstatus",
        "true_count",
        F.round(noise, 4).alias("laplace_noise"),
        F.round(F.col("true_count") + noise, 4).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# Schema evolution on read (mergeSchema over heterogeneous parquet)
# ---------------------------------------------------------------------------


@query(
    "orders_schema_evolution_read",
    oracle="""
    WITH old_batch AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_batch AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(channel, '(pre-evolution)') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM (
      SELECT o_orderkey, o_totalprice, NULL AS channel FROM old_batch
      UNION ALL
      SELECT * FROM new_batch
    )
    GROUP BY 1
    """,
)
def orders_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION ON READ: two parquet deliveries of the same
    table, written months apart with different schemas (the second
    gained a ``channel`` column), read back as ONE dataset with
    ``mergeSchema=true`` — the widened schema applies and pre-evolution
    rows surface NULL for the new column (accounted explicitly in the
    report, not silently dropped). This is the capability that lets a
    raw zone accept upstream schema drift without a migration rewrite;
    the oracle rebuilds the union from the same predicates.

    Scale note: mergeSchema reconciles FOOTERS at planning time — cost
    scales with file count, not data size; at 100 TB you pin the merged
    schema in a table catalog and read with an explicit schema
    instead (the read path below also works unchanged)."""
    import os

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = run_tmpdir("schema_evo_")
    o.filter(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(root, "batch=1")
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .withColumn(
            "channel",
            F.when(F.col("o_orderkey") % 3 == 0, "web").otherwise("store"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "batch=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    return merged.groupBy(
        F.coalesce(F.col("channel"), F.lit("(pre-evolution)")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_value"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (duplicate-cluster-aware)
# ---------------------------------------------------------------------------

# [ \t\n\x0B\f\r] is Java's \s, the class the Spark side collapses
_SPLIT_FP = char_fold_sql("lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))")
_SPLIT_BUCKET = char_fold_sql("'split:' || CAST(r.rep AS VARCHAR)")


@query(
    "corpus_leakage_safe_split",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 700000, text FROM documents WHERE doc_id % 11 = 0
    ),
    keyed AS (
      SELECT doc_id, {_SPLIT_FP} AS fp
      FROM corpus
    ),
    reps AS (SELECT fp, MIN(doc_id) AS rep FROM keyed GROUP BY fp),
    assigned AS (
      SELECT k.doc_id, k.fp,
             CASE WHEN ({_SPLIT_BUCKET}) % 10 < 8
                  THEN 'train'
                  WHEN ({_SPLIT_BUCKET}) % 10 = 8
                  THEN 'val' ELSE 'test' END AS split
      FROM keyed k JOIN reps r ON k.fp = r.fp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_clusters,
           CAST((SELECT COUNT(*) FROM (
                   SELECT fp FROM assigned GROUP BY fp
                   HAVING COUNT(DISTINCT split) > 1)) AS BIGINT)
             AS n_straddling_clusters
    FROM assigned GROUP BY split
    """,
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: documents are assigned to
    splits by hashing their DUPLICATE-CLUSTER representative, not the
    document id — otherwise copies of one document land in train AND
    test and the eval set is contaminated (the failure mode Lee et
    al.'s dedup work measures). Planted duplicates (every 11th doc
    re-delivered under a new id) make the guard observable: the
    ``n_straddling_clusters`` column — clusters with members in more
    than one split — must be ZERO on the hash, while a naive id-hash
    split provably straddles. 8/1/1 proportions via the cluster hash's
    last decimal digit.

    Scale shape: fingerprint = one map-side char-fold per doc; the
    cluster rep is a groupBy MIN; assignment is a broadcast-able
    (fp → rep) join when clusters are small or a shuffle join on fp in
    general — one shuffle, no window. Near-dup (not just exact-dup)
    leakage control swaps the fingerprint for the MinHash-LSH cluster
    label ([[dedup_clusters]]) with the same split-by-rep rule."""
    from ..functions.text import char_fold_hash

    d = t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id"), "text"
        )
    )
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    keyed = corpus.select("doc_id", char_fold_hash(norm).alias("fp"))
    reps = keyed.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    bucket = char_fold_hash(
        F.concat(F.lit("split:"), F.col("rep").cast("string"))
    ) % 10
    assigned = keyed.join(reps, "fp").select(
        "doc_id",
        "fp",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )
    straddling = (
        assigned.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_clusters"),
        F.lit(straddling).cast("long").alias("n_straddling_clusters"),
    )
