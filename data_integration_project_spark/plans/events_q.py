"""Event-time queries over the ``events`` stream table: tumbling-window
rollups, gap-based sessionization, and the end-to-end streaming inbox
pipeline (SURVEY.md §2.10 — the reference's queue leg has NO event-time
semantics; these are the extensions a real stream workload needs, built
on the same operators the streaming module uses).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from ..operators.quality import RuleSet, not_blank, positive
from ..streaming.pipeline import ZonePaths, produce_to_inbox, run_inbox_pipeline, streaming_window_counts
from .catalog import SQL_DSUM, SQL_MD5_INT, dsum, query, run_tmpdir, t
from .customer_model import customer_features, features_sql, gd_step, gd_steps_sql
from .stream_kit import (
    FAR_FUTURE,
    attribution_join,
    drain,
    heartbeats,
    last_update,
    replay,
    staged_replay,
)

# ---------------------------------------------------------------------------
# Tumbling windows (same code path batch/streaming)
# ---------------------------------------------------------------------------


@query(
    "events_hourly_by_type",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'total_value', 2)}
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — built with
    ``F.window`` so the IDENTICAL plan runs as a Structured Streaming
    query with a watermark (see streaming.pipeline.streaming_window_counts;
    epoch-aligned hourly windows ≡ date_trunc in the oracle)."""
    return streaming_window_counts(t(spark, sf_dir, "events"), window="1 hour")


# ---------------------------------------------------------------------------
# Gap-based sessionization (session windows via lag + running sum)
# ---------------------------------------------------------------------------


@query(
    "events_sessionization",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM ordered
    )
    SELECT user_id, session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'session_value', 2)}
    FROM sessions
    GROUP BY user_id, session_idx
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap: lag to mark
    session starts, running sum to number sessions, then a per-session
    rollup. One shuffle on user_id that all three window/group steps
    reuse. (Streaming twin: ``F.session_window(ts, '30 minutes')`` —
    the batch form is oracle-checkable.)"""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    marked = ev.withColumn(
        "_new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    sessions = marked.withColumn("session_idx", F.sum("_new_s").over(wc))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "session_value", 2),
    )


# ---------------------------------------------------------------------------
# As-of join (custom temporal operator — no Spark primitive)
# ---------------------------------------------------------------------------


@query(
    "events_asof_last_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts > c.ts
    """,
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase event enriched with the user's most
    recent STRICTLY-prior click (attribution shape). Implemented as a
    union + ONE windowed pass (operators/temporal.asof_join) — no range
    explosion; the oracle uses DuckDB's native ASOF LEFT JOIN."""
    from ..operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purchases,
        clicks,
        "user_id",
        right_cols=["event_id", "value"],
        strict=True,
    )


# ---------------------------------------------------------------------------
# Range join (binned — no cross-product), hypertable-style rollup,
# running window stats
# ---------------------------------------------------------------------------


@query(
    "events_range_correlation",
    oracle=f"""
    SELECT e.event_id, e.user_id,
           COUNT(*) AS n_nearby,
           {SQL_DSUM('r.value', 'nearby_value', 2)}
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN events r
      ON e.user_id = r.user_id
     AND r.event_id <> e.event_id
     AND abs(epoch(e.ts) - epoch(r.ts)) <= 300
    GROUP BY e.event_id, e.user_id
    """,
)
def events_range_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events of the same user within ±5 minutes of each
    error event, rolled up per error. Binned equi-join form
    (operators/temporal.binned_range_join) — hash join on (key, bin)
    instead of an inequality cross product; the oracle does it the
    quadratic way (its corpus is small)."""
    from ..operators.temporal import binned_range_join

    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select("user_id", "ts", "event_id", "value")
    joined = binned_range_join(
        errors, others, "user_id", window_seconds=300
    ).filter(F.col("r_event_id") != F.col("event_id"))
    return joined.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_nearby"),
        dsum(F.col("r_value"), "nearby_value", 2),
    )


@query(
    "events_multi_rollup",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
           GROUPING(date_trunc('day', ts)) + 2*GROUPING(date_trunc('hour', ts)) AS gid,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'total_value', 2)}
    FROM events
    GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one ROLLUP pass emits
    hour-grain, day-grain, and grand-total rows with a grouping id —
    the multi-granularity rollup a time-series store keeps
    incrementally, here as a single shuffle (Spark expands grouping
    sets before the partial aggregate, so it stays map-side-combined)."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    return ev.rollup("day", "hour").agg(
        (F.grouping("day") + 2 * F.grouping("hour")).alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "total_value", 2),
    )


@query(
    "events_user_running_stats",
    oracle="""
    SELECT event_id, user_id, ts, value,
      CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3_value,
      rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank
    FROM events
    """,
)
def events_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals, 3-event moving sums, and a value rank —
    three window specs sharing ONE shuffle on user_id (exact-decimal
    sums keep frames order-independent across engines)."""
    ev = t(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w_run = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_mov = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, 0)
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    dec = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(dec).over(w_run).cast("double").alias("running_value"),
        F.sum(dec).over(w_mov).cast("double").alias("moving3_value"),
        F.rank().over(w_rank).alias("value_rank"),
    )


# ---------------------------------------------------------------------------
# End-to-end streaming inbox pipeline (S9/K1-K3 parity, run on demand)
# ---------------------------------------------------------------------------

def _stream_rules() -> RuleSet:
    """Validation applied inside the streaming consumer's foreachBatch
    (built lazily — Column expressions need an active SparkContext)."""
    return (
        RuleSet("customer")
        .rule("custkey_positive", positive("c_custkey"), "c_custkey must be > 0")
        .rule("name_not_blank", not_blank("c_name"), "c_name blank")
        .rule("acctbal_positive", positive("c_acctbal"), "c_acctbal must be > 0")
    )


@query(
    "streaming_inbox_pipeline",
    oracle="""
    SELECT 'clean' AS zone,
           CAST(SUM(CASE WHEN c_custkey > 0 AND trim(c_name) <> ''
                     AND c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
    FROM customer
    UNION ALL
    SELECT 'error',
           CAST(SUM(CASE WHEN c_custkey > 0 AND trim(c_name) <> ''
                     AND c_acctbal > 0 THEN 0 ELSE 1 END) AS BIGINT)
    FROM customer
    """,
)
def streaming_inbox_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full queue-leg parity run: envelope-wrap the customer table into
    a JSON inbox (K1), drain it with a checkpointed AvailableNow stream
    (S9), validate in foreachBatch (V1/V3), land clean/error parquet
    zones (K2/K3), and report zone counts. The oracle recomputes the
    expected split relationally. Each invocation uses a fresh temp run
    directory (run-scoped output, reference DB_{run_id} analogue)."""
    zones = ZonePaths(run_tmpdir("inbox_run_"))
    cust = t(spark, sf_dir, "customer")
    produce_to_inbox(
        cust, zones, entity="customer", source="csv", run_id="r1", order_col="c_custkey"
    )
    schema = T.StructType(
        [f for f in cust.schema.fields]  # canonical customer schema
    )
    counts = run_inbox_pipeline(
        spark,
        zones,
        entity="customer",
        data_schema=schema,
        validate=_stream_rules().validate,
    )
    return spark.createDataFrame(
        [(z, counts.get(z, 0)) for z in ("clean", "error")],
        T.StructType(
            [
                T.StructField("zone", T.StringType(), False),
                T.StructField("n_rows", T.LongType(), False),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# JSON scalar functions (§2.9): the events props column is a JSON
# document; both the typed parse (from_json) and the path extractor
# (get_json_object) stay JVM-side.
# ---------------------------------------------------------------------------


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface over the props column: min via the TYPED
    parse (from_json with an explicit schema — the scale path: parse
    once, prune to the referenced field) and max/sum via the path
    extractor get_json_object. Both are JVM expressions (no Python);
    JSON parsing is a codegen-fallback expression, but the single
    hash-aggregate pass and one exchange are unchanged."""
    e = t(spark, sf_dir, "events")
    typed_k = F.from_json("props", "k INT").getField("k")
    path_k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(typed_k).alias("min_k"),
        F.max(path_k).alias("max_k"),
        F.sum(path_k).alias("sum_k"),
        F.sum(F.when(path_k.isNull(), 1).otherwise(0)).alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (the portable, oracle-checkable alternative
# to HyperLogLog — operators/sketch.py)
# ---------------------------------------------------------------------------


def _KMV_SQL(col: str, scope: str, k: int = 256) -> str:
    a, b, p = 1103515245, 12352, 2147483647
    return f"""
    SELECT '{scope}' AS scope, CAST({k} AS INTEGER) AS k,
           COUNT(*) AS n_seen,
           CAST(CASE WHEN COUNT(*) < {k} THEN COUNT(*)
                ELSE floor({float(k - 1)} * {float(p)} / MAX(hv)) END AS BIGINT)
             AS n_estimate
    FROM (
      SELECT hv FROM (
        SELECT DISTINCT ({a} * ({col} % {p}) + {b}) % {p} AS hv FROM events
      ) ORDER BY hv LIMIT {k}
    )
    """


@query(
    "events_kmv_distinct",
    oracle=_KMV_SQL("user_id", "user_id")
    + "\n    UNION ALL\n"
    + _KMV_SQL("event_id", "event_id"),
)
def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over two cardinality regimes: user_id
    (sketch not full → exact count) and event_id (full sketch → the
    (k-1)·P/h_k estimate). Deterministic affine hashing + TakeOrdered(k)
    means both engines compute the identical estimate — the sketch is
    oracle-checked bit-for-bit, which HLL never can be."""
    from ..operators.sketch import kmv_distinct_estimate

    e = t(spark, sf_dir, "events")
    out = None
    for col in ("user_id", "event_id"):
        leg = kmv_distinct_estimate(e, col, k=256).select(
            F.lit(col).alias("scope"), "k", "n_seen", "n_estimate"
        )
        out = leg if out is None else out.unionByName(leg)
    return out


#: SQL twin of operators.sketch.hll_hash, a template over ``{col}``.
_HLL_HASH_SQL = SQL_MD5_INT("CAST({col} AS VARCHAR)", 8)


def _hll_rank_sql(m: int, k_max: int) -> str:
    """SQL twin of operators.sketch.hll_registers' rank expression —
    shared by every HLL oracle in this module so the register layout
    has exactly one SQL spelling."""
    return (
        f"CASE WHEN hv // {m} = 0 THEN {k_max} "
        f"ELSE {k_max} - length(bin(hv // {m})) END"
    )


def _HLL_SQL(col: str, scope: str, m: int = 64) -> str:
    from ..operators.sketch import hll_constants

    _, k_max, scaled_alpha = hll_constants(m)
    rank = _hll_rank_sql(m, k_max)
    s_scaled = (
        f"SUM(CAST(power(2, {k_max} - mreg) AS BIGINT))"
        f" + ({m} - COUNT(*)) * {1 << k_max}"
    )
    return f"""
    SELECT '{scope}' AS scope,
           CAST({m} AS INTEGER) AS m,
           CAST({m} - COUNT(*) AS INTEGER) AS n_empty,
           CAST({s_scaled} AS BIGINT) AS s_scaled,
           CAST(floor({scaled_alpha!r} / ({s_scaled})) AS BIGINT) AS n_estimate,
           (SELECT COUNT(DISTINCT {col}) FROM events) AS n_exact
    FROM (
      SELECT hv % {m} AS b, MAX({rank}) AS mreg
      FROM (SELECT {_HLL_HASH_SQL.format(col=col)} AS hv FROM events)
      GROUP BY b
    )
    """


def _hll_oracle() -> str:
    return (
        _HLL_SQL("user_id", "user_id")
        + "\n    UNION ALL\n"
        + _HLL_SQL("event_id", "event_id")
    )


@query("events_hll_distinct", oracle=_hll_oracle())
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count sketch (operators/sketch.py)
    over the same two cardinality regimes as the KMV query: user_id
    (150 true distinct at sf0.01 — raw-estimator small-range bias is
    visible next to n_exact) and event_id (dense regime where HLL
    shines). Registers are exact integers and the estimate is one
    double division of a precomputed constant, so the DuckDB oracle
    replays the sketch bit-for-bit — including the estimate itself."""
    from ..operators.sketch import hll_distinct_estimate

    e = t(spark, sf_dir, "events")
    out = None
    for col in ("user_id", "event_id"):
        exact = e.agg(F.countDistinct(col).cast("long").alias("n_exact"))
        leg = (
            hll_distinct_estimate(e, col, m=64)
            .crossJoin(exact)
            .select(F.lit(col).alias("scope"), "m", "n_empty", "s_scaled", "n_estimate", "n_exact")
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Event-time RANGE frame (trailing-hour sliding window per user)
# ---------------------------------------------------------------------------


_TRAIL_FRAME = (
    "PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW"
)


@query(
    "events_trailing_hour_window",
    oracle=f"""
    WITH w AS (
      SELECT user_id,
             COUNT(*) OVER ({_TRAIL_FRAME}) AS n_1h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER ({_TRAIL_FRAME})
                  AS DOUBLE) AS v_1h
      FROM events
    )
    SELECT user_id,
           MAX(n_1h) AS peak_1h_events,
           MAX(v_1h) AS peak_1h_value
    FROM w GROUP BY user_id
    """,
)
def events_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: for every event, the count and value-sum
    of the same user's events in the trailing hour (frame bounded by
    the ORDER-BY VALUE, not row position — peers at the same timestamp
    enter together), rolled up to each user's peak trailing-hour rate.
    The burst-detection / rate-limiting shape.

    Ordering is unix-microseconds (a long), so the numeric RANGE frame
    is portable to any engine; the windowed sum rides as exact decimal.
    Scale shape: one hash shuffle on user_id, per-partition sort, a
    sliding frame evaluated in one pass, then a map-side-combined
    rollup — no self-join, no explode of the window."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    n1h = F.count(F.lit(1)).over(w)
    v1h = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    return (
        e.select("user_id", n1h.alias("n_1h"), v1h.alias("v_1h"))
        .groupBy("user_id")
        .agg(
            F.max("n_1h").alias("peak_1h_events"),
            F.max("v_1h").alias("peak_1h_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming session windows (F.session_window — the streaming twin the
# batch sessionization query's docstring promises)
# ---------------------------------------------------------------------------


@query(
    "events_streaming_sessions",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end_bound,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'session_value', 2)}
    FROM sessions GROUP BY user_id, sid
    """,
)
def events_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming session windows: the events file
    replayed through a file-source stream, ``F.session_window(ts,
    '30 minutes')`` merging per-user sessions in state, drained with
    ``Trigger.AvailableNow`` into a memory sink. Session semantics are
    Spark's: a gap of exactly 30 minutes starts a NEW session (the
    oracle uses >=, unlike the batch query's >), and ``session_end_
    bound`` is last-event-time + gap, which is how the streaming
    operator defines window end.

    Complete output mode (no watermark) — correct for a bounded drain;
    an unbounded production stream would add a watermark and append
    mode, trading the tail sessions' finality for reclaimable state.

    Scale shape: session merging is stateful per user_id — state
    shuffles once on the grouping key, and each micro-batch touches
    only keys with new events."""
    agg = (
        replay(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_bound"),
            "n_events",
            "session_value",
        )
    )
    return drain(agg, "complete")


# ---------------------------------------------------------------------------
# Hopping (sliding) windows — each event lands in window/slide windows
# ---------------------------------------------------------------------------


@query(
    "events_hopping_window",
    oracle=f"""
    SELECT TIMESTAMP '1970-01-01'
             + INTERVAL (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900
                         - o * 900) SECOND AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'total_value', 2)}
    FROM events, (SELECT unnest(range(0, 4)) AS o)
    GROUP BY 1, 2
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows: 1-hour windows sliding every 15
    minutes, so each event contributes to exactly 4 overlapping
    windows — the smoothing rollup dashboards want. ``F.window`` with a
    slide assigns all 4 memberships in one codegen projection (the
    oracle spells the replication out with an offset cross join).

    Scale note: output is 4× the tumbling rollup but the plan is the
    same single shuffle; at 100 TB choose slide/size so the fan-out
    factor (size/slide) stays small, or pre-aggregate per slide grain
    and re-sum windows from slides (the two-level rollup)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("_w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Incremental rollup refresh (materialized-view maintenance by
# partial-aggregate merge — recompute only the delta, re-sum the rest)
# ---------------------------------------------------------------------------


@query(
    "events_rollup_incremental_refresh",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'total_value', 2)}
    FROM events
    GROUP BY 1, 2
    """,
)
def events_rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: a day-grain rollup is
    MATERIALIZED for the historical slice (everything before the last
    event day), then refreshed by aggregating ONLY the new slice and
    merging partial aggregates — counts and exact-decimal sums re-sum,
    so merged state is bit-identical to the full recompute the oracle
    runs. The timescale/materialized-view refresh shape: at 100 TB the
    daily refresh touches one day of input + |groups| rollup rows,
    never the full history. (Decimal sums make partials mergeable;
    averages would be maintained as (sum, count) pairs the same way.)"""
    ev = t(spark, sf_dir, "events")
    cutoff = ev.agg(F.max(F.date_trunc("day", "ts")).alias("c")).collect()[0]["c"]

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.date_trunc("day", "ts").alias("day"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("_dec_value"),
            )
        )

    # historical slice materialized once (the standing rollup table)
    hist_path = run_tmpdir("rollup_hist_")
    rollup(ev.filter(F.date_trunc("day", "ts") < cutoff)).write.mode(
        "overwrite"
    ).parquet(hist_path)
    hist = spark.read.parquet(hist_path)
    # delta slice aggregated fresh, then partial-aggregate merge
    delta = rollup(ev.filter(F.date_trunc("day", "ts") >= cutoff))
    return (
        hist.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_dec_value").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered funnel analysis (view -> click -> purchase within a session)
# ---------------------------------------------------------------------------


@query(
    "events_session_funnel",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    srows AS (
      SELECT user_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    s1 AS (
      SELECT user_id, sid, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM srows GROUP BY user_id, sid
    ),
    s2 AS (
      SELECT r.user_id, r.sid, MIN(r.ts) AS t_click
      FROM srows r JOIN s1 ON s1.user_id = r.user_id AND s1.sid = r.sid
      WHERE r.event_type = 'click' AND r.ts > s1.t_view
      GROUP BY r.user_id, r.sid
    ),
    s3 AS (
      SELECT r.user_id, r.sid, MIN(r.ts) AS t_purchase
      FROM srows r JOIN s2 ON s2.user_id = r.user_id AND s2.sid = r.sid
      WHERE r.event_type = 'purchase' AND r.ts > s2.t_click
      GROUP BY r.user_id, r.sid
    )
    SELECT CASE WHEN s3.t_purchase IS NOT NULL THEN 3
                WHEN s2.t_click IS NOT NULL THEN 2
                WHEN s1.t_view IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage,
           COUNT(*) AS n_sessions
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id AND s2.sid = s1.sid
    LEFT JOIN s3 ON s3.user_id = s1.user_id AND s3.sid = s1.sid
    GROUP BY 1
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel analysis per session: stage 1 = saw a view,
    stage 2 = clicked strictly AFTER the first view, stage 3 =
    purchased strictly after that click — order matters, so this is
    three dependent minima, not three filters. Classic product
    analytics; the reference's status-report aggregates never sequence
    events.

    Scale shape: session numbering is the one user_id shuffle; each
    subsequent stage joins the session rows back on (user, session) —
    same key, so no new partitioning — and the final rollup is 4
    rows."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    srows = ev.withColumn(
        "_new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "sid", F.sum("_new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).select("user_id", "sid", "ts", "event_id", "event_type")
    # Round-9 (guide §1.2): the three dependent minima were three
    # groupBy legs each re-running the sessionization window, joined
    # back twice — six scans and three shuffled joins. One pass with
    # RUNNING minima instead: at any row, the running min view (resp.
    # qualified-click) time over (ts, event_id)-ordered preceding rows
    # EQUALS the session-global first view (resp. first qualified
    # click) whenever one precedes this row — and when none precedes,
    # the session value (if any) is >= this row's ts, so the strict
    # `>` qualification is false either way. Hence per-row
    # qualification against the running min is identical to the
    # original join-against-global-min, and the three minima fold into
    # one groupBy. Window partitioning (user_id, sid) is satisfied by
    # the sessionize window's user_id hash — no new exchange.
    w_run = Window.partitionBy("user_id", "sid").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    fv = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w_run)
    q = srows.withColumn(
        "_click_q",
        (F.col("event_type") == "click") & (F.col("ts") > fv),
    )
    fc = F.min(F.when(F.col("_click_q"), F.col("ts"))).over(w_run)
    q = q.withColumn(
        "_purch_q",
        (F.col("event_type") == "purchase") & (F.col("ts") > fc),
    )
    per_session = q.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("t_view"),
        F.min(F.when(F.col("_click_q"), F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("_purch_q"), F.col("ts"))).alias("t_purchase"),
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        per_session.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Stream-stream join (watermarked, time-bounded attribution join)
# ---------------------------------------------------------------------------


@query(
    "events_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           p.ts AS purchase_ts, c.ts AS click_ts,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS lag_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join: purchases and clicks arrive as two
    watermarked streams, inner-joined on user with the time-range
    predicate ``click.ts ∈ [purchase.ts - 30 min, purchase.ts]`` — the
    attribution join, emitting every (purchase, contributing click)
    pair. Both sides are stateful; the watermark plus the range bound
    is what lets Spark expire buffered rows instead of holding each
    stream forever — THE mechanism that makes a 100 TB/day
    stream-stream join feasible.

    Bounded replay (AvailableNow over the fixture) makes the result
    deterministic and equal to the batch join the oracle runs."""
    joined = attribution_join(replay(spark, sf_dir, "events"), "inner").select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        F.floor(
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 1_000_000
        )
        .cast("long")
        .alias("lag_seconds"),
    )
    return drain(joined, "append")


# ---------------------------------------------------------------------------
# Grouped-map Pandas UDF (applyInPandas): robust per-user outliers
# ---------------------------------------------------------------------------


@query(
    "events_user_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY user_id
    ),
    dev AS (
      SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (user_id)
    ),
    madt AS (
      SELECT user_id, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           COUNT(*) AS n_events,
           ANY_VALUE(d.med) AS median_value,
           ANY_VALUE(a.mad) AS mad,
           CAST(SUM(CASE WHEN a.mad > 0 AND d.ad / a.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN madt a USING (user_id)
    GROUP BY d.user_id
    """,
)
def events_user_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (``applyInPandas`` — the Arrow-batched
    per-group escape hatch, §2.11): per-user robust outlier stats via
    median / MAD, the estimator family that needs the whole group in
    memory at once and genuinely doesn't decompose into built-in
    aggregates + windows cleanly.

    Bit-parity across engines is engineered, not hoped for: the UDF
    computes quantiles with DuckDB's exact ``quantile_cont``
    interpolation formula (v[lo] + frac·(v[lo+1]-v[lo])) rather than
    numpy's (a+b)/2 — the two differ in the last ulp, which the
    value-hash would catch.

    Scale shape: one shuffle on user_id; each group materializes in
    one Arrow batch (fine for per-user event counts; a group too big
    for memory should switch to the sort-based window form)."""
    import numpy as np
    import pandas as pd

    def _qcont(sorted_vals: "np.ndarray", q: float) -> float:
        # DuckDB quantile_cont: pos = (n-1)q; lerp between neighbors
        n = len(sorted_vals)
        pos = (n - 1) * q
        lo = int(pos)
        frac = pos - lo
        if lo + 1 < n:
            return float(sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo]))
        return float(sorted_vals[lo])

    def per_user(pdf: "pd.DataFrame") -> "pd.DataFrame":
        vals = np.sort(pdf["value"].to_numpy())
        med = _qcont(vals, 0.5)
        ad = np.abs(pdf["value"].to_numpy() - med)
        mad = _qcont(np.sort(ad), 0.5)
        n_out = int(np.sum((ad / mad) > 3.5)) if mad > 0 else 0
        return pd.DataFrame(
            [[int(pdf["user_id"].iloc[0]), len(pdf), med, mad, n_out]],
            columns=["user_id", "n_events", "median_value", "mad", "n_outliers"],
        )

    ev = t(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        per_user,
        schema="user_id long, n_events long, median_value double, mad double, n_outliers long",
    )


def _events_then_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture, then a purchase and a click heartbeat in the
    next trigger: a bounded fixture closes its last windows and flushes
    its last outer-join nulls only once the watermark passes them."""
    return staged_replay(
        spark,
        [
            f"{sf_dir}/events.parquet",
            heartbeats(spark, (FAR_FUTURE, "purchase"), (FAR_FUTURE, "click")),
        ],
    )


@query(
    "events_stream_stream_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           p.ts AS purchase_ts, c.ts AS click_ts,
           CASE WHEN c.event_id IS NULL THEN 'unattributed'
                ELSE 'attributed' END AS attribution
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def events_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join: like events_stream_stream_join
    but purchases with NO click in the 30-minute window must still be
    emitted (click side null) — the attribution report that includes
    the unattributed tail. Outer stream joins add the null-emission
    timing problem: a purchase can only be declared clickless once the
    watermark guarantees no matching click can still arrive, so
    unmatched rows surface when state expires, not when they arrive.
    A null can only be emitted once the watermark PASSES the purchase —
    so the last 90 minutes of a bounded fixture would stay pending
    forever (measured: 2 rows short at sf0.001). Production streams
    solve this with a heartbeat that advances event time; the fixture
    does the same — a far-future sentinel event on each side (streamed
    from a temp dir that symlinks the read-only fixture plus one tiny
    sentinel file) pushes the watermark past every real row, the
    closing no-data batch flushes all pending nulls, and the result
    equals the batch LEFT JOIN the oracle runs.

    State stays bounded exactly as in the inner variant — the
    watermark + range bound let both sides evict; the only addition is
    the per-row "matched" bit Spark keeps to know which evicted rows
    owe a null emission."""
    joined = attribution_join(_events_then_heartbeat(spark, sf_dir), "left_outer").select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        F.when(F.col("click_id").isNull(), F.lit("unattributed"))
        .otherwise(F.lit("attributed"))
        .alias("attribution"),
    )
    return drain(joined, "append").filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# Streaming exactly-once ingestion: dedup on a replayed (duplicated) stream
# ---------------------------------------------------------------------------


@query(
    "events_streaming_dedup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT event_id) AS n_unique_events
    FROM events
    GROUP BY event_type
    """,
)
def events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once ingestion: the source REPLAYS the event
    feed twice (two files streaming the same rows — the at-least-once
    delivery every real queue exhibits), and ``dropDuplicates`` on the
    event id inside the stream must collapse the replay so downstream
    counts equal the exactly-once truth the oracle computes. This is
    the engine-level form of the reference's seen_ids dedup
    (SURVEY §2.10 V2): state keyed on event_id, duplicates dropped
    across micro-batches, results identical whether a row arrived once
    or twice.

    At 100 TB/day unbounded keyed state is the real concern — the
    production variant bounds it with dropDuplicatesWithinWatermark
    (state expires once the watermark passes the id's event time);
    bounded replay here keeps full-fidelity state and makes the result
    exact."""
    # the same fixture file twice = an at-least-once replay; one file
    # per trigger puts the replay in a later micro-batch than the
    # original, so the dedup state is exercised ACROSS batches
    events = f"{sf_dir}/events.parquet"
    src = staged_replay(spark, [events, events])
    deduped = src.dropDuplicates(["event_id"]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_events")
    )
    return drain(deduped, "complete")


# ---------------------------------------------------------------------------
# Running distinct users without quadratic state (first-seen marking)
# ---------------------------------------------------------------------------


@query(
    "events_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily_new AS (
      SELECT first_day AS day, COUNT(*) AS n_new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT day, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily_new
    """,
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT running-distinct state:
    a naive "COUNT(DISTINCT user) OVER (ORDER BY day)" needs every
    day's full user set (quadratic state, and Spark refuses DISTINCT
    window aggregates anyway). The scalable identity: a user counts
    toward exactly the cumulative totals from their FIRST day on — so
    reduce to first-seen per user (one shuffle), count new users per
    day (tiny), and run a plain SUM window over the |days| rows. State
    collapses from |users|×|days| to |days|.

    This first-occurrence-marking trick is the same one behind
    incremental corpus dedup and is the standard growth-accounting
    query at any scale."""
    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (product-analytics classic)
# ---------------------------------------------------------------------------


@query(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT e.user_id,
             date_trunc('week', f.cohort_day) AS cohort_week,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           COUNT(DISTINCT user_id) AS n_active_users
    FROM activity
    WHERE week_offset BETWEEN 0 AND 8
    GROUP BY cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted
    distinct in each subsequent week offset — the triangle every
    product-analytics deployment computes daily. Shape: first-seen per
    user (one shuffle on user), events re-joined to their cohort (the
    join key is user — co-partitioned with the first aggregate, so AQE
    reuses the exchange), then a distinct-count per (cohort, offset)
    cell. No per-user window, no self-join of events to events.

    Week arithmetic is day-diff // 7 from the cohort day (engine-
    neutral), cohort label is the ISO week start (date_trunc in both
    engines)."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = e.join(first_seen, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("cohort_day")).cast("date").alias("cohort_week"),
        F.floor(F.datediff(F.col("d"), F.col("cohort_day")) / 7).alias("week_offset"),
    )
    return (
        activity.filter(F.col("week_offset").between(0, 8))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


# ---------------------------------------------------------------------------
# Arbitrary stateful streaming (applyInPandasWithState) as a catalog query
# ---------------------------------------------------------------------------


@query(
    "events_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def events_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY stateful streaming (applyInPandasWithState, §2.10):
    per-user accumulators live in the checkpointed state store, updated
    by a Python function over Arrow batches — the extension point for
    semantics no built-in windowed aggregate expresses (custom
    eviction, cross-batch dedup, per-key models). Here the state is
    (n_events, total_cents); the drain's final update per user must
    equal the batch GROUP BY the oracle runs.

    Money lives in INTEGER CENTS inside the state on purpose: a float
    accumulator's value depends on arrival order, which is exactly the
    nondeterminism a restart-safe stateful operator cannot afford
    (and the value-hash would catch). floor(v·100 + 0.5) is the same
    float64 op in pandas and the oracle, so the integers agree
    bit-for-bit. Update-mode emissions are resolved to each user's
    LAST update (max n_events — monotone) before returning."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the state store keeps the session's one partition per core: the
    # operator's cost is per-key Python calls, and sizing its partitions
    # from input bytes (one at sf0.1) put them all on one core, 2.6 → 6.6 s
    totals = (
        replay(spark, sf_dir, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_state_fn,
            "user_id long, n_events long, total_cents long",
            "n long, cents long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return last_update(drain(totals, "update"), "user_id", "n_events")


def _user_totals_state_fn(key, pdfs, state):
    """State-update function for [[events_stateful_user_totals]] (module
    level so tests drive it through their own stream wiring): add each
    batch's event count and integer cents to the user's state and emit
    the running totals."""
    import numpy as np
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(
            np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum()
        )
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


# ---------------------------------------------------------------------------
# Hot-key downsampling: deterministic per-user event cap
# ---------------------------------------------------------------------------


@query(
    "events_per_user_capped_sample",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY md5(CAST(event_id AS VARCHAR)),
                                         event_id) AS rk
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= 5 THEN event_id ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM ranked GROUP BY user_id
    """,
)
def events_per_user_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key downsampling: cap every user at 5 events, chosen by
    DETERMINISTIC hash order (md5 of the event id, id tiebreak) — the
    per-entity cap a training pipeline applies so one prolific
    user/domain/repo can't dominate the corpus, and the degenerate-key
    guard for power-law data. Hash order makes the cap a uniform
    per-user sample that is stable across reruns, partitionings and
    engines — a LIMIT or arrival-order cap would be silently
    irreproducible. The kept-set checksum (sum of kept ids) proves both
    engines selected the identical rows, not just the same counts.

    Shape: one shuffle on user_id; the rank window reads each user's
    events once. At extreme skew (one user = one partition's worth),
    pre-aggregate a per-(user, salt) partial top-5 then re-rank the
    ≤ 5·n_salts survivors — same two-level trick as salted aggregation."""
    e = t(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    ranked = e.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("rk") <= 5, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 5, F.col("event_id")).otherwise(0)).alias(
            "kept_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# Partition-pruned scan (hive-partitioned layout + asserted pruning)
# ---------------------------------------------------------------------------


@query(
    "events_partition_pruned_scan",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) + 3 FROM events)
    GROUP BY event_type
    """,
)
def events_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning as a contract: events are written out
    hive-partitioned by day (the layout every 100 TB event lake uses),
    the query filters one day, and the plan is ASSERTED to scan only
    that day's partition (PartitionFilters present, one of |days|
    directories read) — a filter that fails to prune reads the whole
    lake, the difference between seconds and hours at scale. The
    oracle runs the same day filter over the flat fixture: layout must
    not change a single value.

    Day is derived (min+3) rather than a literal so the fixture's date
    range can shift without breaking the query."""
    e = t(spark, sf_dir, "events")
    day = e.agg(
        F.date_add(F.min(F.col("ts").cast("date")), 3).alias("d")
    ).collect()[0]["d"]
    path = run_tmpdir("events_bydaylake_") + "/events"
    e.withColumn("event_date", F.col("ts").cast("date")).write.partitionBy(
        "event_date"
    ).parquet(path)
    lake = spark.read.parquet(path)
    one_day = lake.filter(F.col("event_date") == F.lit(day))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1][:200], "day filter did not reach PartitionFilters:\n" + plan[:800]
    return one_day.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (§2.11 breadth: the UDAF surface)
# ---------------------------------------------------------------------------


@query(
    "orders_grouped_agg_median",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           quantile_cont(o_totalprice, 0.5) AS median_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def orders_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the user-defined AGGREGATE surface
    (§2.11), distinct from grouped-map applyInPandas: the UDF receives
    one group's column as a pandas Series and returns ONE scalar,
    slotting into a normal groupBy next to built-in aggregates. The
    median uses DuckDB's exact quantile_cont interpolation
    (h = (n-1)/2, lo + frac·(hi-lo)) rather than numpy's percentile
    path end-to-end, because the two differ in the last ulp and the
    value-hash catches it (same lesson as events_user_robust_outliers).

    Hot-path note: per-group state is one sort of that group's values
    inside Arrow batches — for exact global medians at 100 TB prefer
    the two-level percentile_disc plan (orders_price_percentile_disc);
    this is the extension point for aggregates Spark lacks."""
    import math

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: `from __future__ import
    # annotations` stringifies the hints, so signature inference can't
    # see Series -> float here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def exact_median(v):
        s = v.sort_values().reset_index(drop=True)
        n = len(s)
        h = (n - 1) / 2.0
        lo = int(math.floor(h))
        hi = int(math.ceil(h))
        lov, hiv = float(s.iloc[lo]), float(s.iloc[hi])
        return lov + (h - lo) * (hiv - lov)

    # a GROUPED_AGG UDF can't share an agg() with non-pandas aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count is a pandas agg too
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        n_rows(F.col("o_totalprice")).alias("n_orders"),
        exact_median(F.col("o_totalprice")).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# Stream-static join (per-batch dimension enrichment)
# ---------------------------------------------------------------------------


@query(
    "events_stream_static_join",
    oracle="""
    SELECT n.n_name AS nation_name, e.event_type,
           COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, e.event_type
    """,
)
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream is enriched against a
    static dimension (customer → nation) inside the streaming query —
    the everyday pattern between stateless maps and full stream-stream
    joins. No watermark and no join state: the static side is simply
    (re)broadcast per micro-batch, which is also the semantics to know
    about — a dim updated mid-stream is picked up at the NEXT batch,
    not mid-batch. Aggregation runs in complete mode; the oracle is
    the batch join.

    At 100 TB/day the static side stays broadcast-sized (dims), so the
    stream never shuffles for enrichment — identical to the batch star
    join's dim strategy."""
    src = replay(spark, sf_dir, "events").select("user_id", "event_type")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    joined = (
        src.join(dim, src.user_id == dim.c_custkey)
        .groupBy(F.col("n_name").alias("nation_name"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return drain(joined, "complete")


# ---------------------------------------------------------------------------
# CEP pattern matching over session event sequences
# ---------------------------------------------------------------------------


@query(
    "events_session_patterns",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM ordered
    ),
    seqs AS (
      SELECT user_id, session_idx,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM sessions GROUP BY user_id, session_idx
    )
    SELECT
      COUNT(*) AS n_sessions,
      CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_funnel_sessions,
      CAST(SUM(CASE WHEN regexp_matches(seq, 'e{2}') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_error_burst_sessions,
      CAST(SUM(CASE WHEN regexp_matches(seq, '^p') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_cold_purchase_sessions
    FROM seqs
    """,
)
def events_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing via sequence-string compilation: each
    session's events collapse to an ordered string of type initials
    (one groupBy; array_sort on (ts, id, char) structs makes
    collect_list's arrival order irrelevant), and PATTERNS become plain
    regexes over that string — view→click→purchase funnels ('v.*c.*p'),
    consecutive-error bursts ('ee'), purchases with no prior contact
    ('^p'). This is the MATCH_RECOGNIZE workload expressed with two
    primitives Spark already has, and the per-session string is bounded
    by session length, so the pattern pass is embarrassingly parallel.

    Shape: ONE shuffle on user_id feeds sessionization (lag + running
    sum), the per-session string build, and the pattern flags; the
    final count is a single-row fold."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
        1,
    ).otherwise(0)
    sessions = ev.withColumn("_new_s", new_s).withColumn(
        "session_idx",
        F.sum("_new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seqs = sessions.groupBy("user_id", "session_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("seq")
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("seq").rlike("v.*c.*p").cast("long")).alias(
            "n_funnel_sessions"
        ),
        F.sum(F.col("seq").rlike("e{2}").cast("long")).alias(
            "n_error_burst_sessions"
        ),
        F.sum(F.col("seq").rlike("^p").cast("long")).alias(
            "n_cold_purchase_sessions"
        ),
    )


# ---------------------------------------------------------------------------
# Mergeable per-group HLL: partial registers per shard, merged by MAX
# ---------------------------------------------------------------------------


def _hll_merge_oracle(m: int = 64) -> str:
    from ..operators.sketch import hll_constants

    _, k_max, scaled_alpha = hll_constants(m)
    rank = (
        f"CASE WHEN hv // {m} = 0 THEN {k_max} "
        f"ELSE {k_max} - length(bin(hv // {m})) END"
    )
    s_scaled = (
        f"SUM(CAST(power(2, {k_max} - mreg) AS BIGINT))"
        f" + ({m} - COUNT(*)) * {1 << k_max}"
    )
    return f"""
    WITH hashed AS (
      SELECT event_type,
             CAST(epoch(ts) // 86400 AS BIGINT) % 2 AS shard,
             {_HLL_HASH_SQL.format(col="user_id")} AS hv
      FROM events
    ),
    partial_regs AS (
      SELECT event_type, shard, hv % {m} AS b, MAX({rank}) AS mreg
      FROM hashed GROUP BY event_type, shard, b
    ),
    merged_regs AS (
      SELECT event_type, b, MAX(mreg) AS mreg
      FROM partial_regs GROUP BY event_type, b
    ),
    est AS (
      SELECT event_type,
             CAST(floor({scaled_alpha!r} / ({s_scaled})) AS BIGINT)
               AS n_estimate
      FROM merged_regs GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, x.n_exact, e.n_estimate
    FROM est e JOIN exact x USING (event_type)
    """


@query("events_hll_mergeable_groups", oracle=_hll_merge_oracle())
def events_hll_mergeable_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that justifies sketches at 100 TB: MERGEABILITY.
    Distinct users per event type, where the register tables are built
    INDEPENDENTLY per shard (day parity here — in production: per day,
    per partition, per datacenter) and combined afterward by a plain
    MAX per (group, register) — no re-scan of either shard, and the
    merged estimate is bit-identical to a single-pass sketch because
    max is associative/commutative/idempotent. This is what lets a
    daily pipeline keep 64 longs per group per day and answer "distinct
    over any date range" by folding registers.

    Exact distinct per group rides along for the error comparison.
    State: |groups|·m registers; every aggregate map-side combines."""
    from ..operators.sketch import hll_constants, hll_hash

    m = 64
    _, k_max, scaled_alpha = hll_constants(m)
    ev = t(spark, sf_dir, "events")
    hv = hll_hash(F.col("user_id"))
    w_ = F.floor(hv / m).cast("long")
    rank = F.when(w_ == F.lit(0), F.lit(k_max)).otherwise(
        F.lit(k_max) - F.length(F.bin(w_))
    )
    hashed = ev.select(
        "event_type",
        ((F.unix_timestamp("ts") / 86400).cast("long") % 2).alias("shard"),
        (hv % m).alias("b"),
        rank.alias("r"),
    )
    partial_regs = hashed.groupBy("event_type", "shard", "b").agg(
        F.max("r").alias("mreg")
    )
    merged_regs = partial_regs.groupBy("event_type", "b").agg(
        F.max("mreg").alias("mreg")
    )
    n_seen = F.count(F.lit(1))
    s_scaled = (
        F.sum(F.pow(F.lit(2.0), F.lit(k_max) - F.col("mreg")).cast("long"))
        + (F.lit(m) - n_seen) * F.lit(1 << k_max)
    ).cast("long")
    est = merged_regs.groupBy("event_type").agg(
        F.floor(F.lit(scaled_alpha) / s_scaled).cast("long").alias("n_estimate")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "n_estimate"
    )


# ---------------------------------------------------------------------------
# Grouped KLL-style quantile sketch: per-group adaptive levels — the
# "p99 per endpoint" production form of orders_kll_quantiles
# ---------------------------------------------------------------------------

_EKLL_CAP = 128
_EKLL_LMAX = 20


@query(
    "events_kll_by_type",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             event_id AS id,
             {_HLL_HASH_SQL.format(col="event_id")} AS h
      FROM events
    ),
    lvls AS (SELECT unnest(range(0, {_EKLL_LMAX + 1})) AS lvl),
    gcounts AS (
      SELECT event_type, lvl,
             COUNT(*) FILTER (WHERE h % (CAST(1 AS BIGINT) << lvl) = 0)
               AS cnt
      FROM c, lvls GROUP BY event_type, lvl
    ),
    glevel AS (
      SELECT event_type, MIN(lvl) AS lv FROM gcounts
      WHERE cnt <= {_EKLL_CAP} GROUP BY event_type
    ),
    ret AS (
      SELECT c.event_type, c.v, c.id, g.lv,
             row_number() OVER (PARTITION BY c.event_type
                                ORDER BY c.v, c.id) AS rn,
             COUNT(*) OVER (PARTITION BY c.event_type) AS n_ret
      FROM c JOIN glevel g USING (event_type)
      WHERE h % (CAST(1 AS BIGINT) << lv) = 0
    ),
    p AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                ('p99', 99, 100)) AS t(label, num, den)),
    est AS (
      SELECT r.event_type, p.label,
             CAST(p.num AS DOUBLE) / p.den AS prob,
             r.lv, r.n_ret,
             greatest(1, (p.num * r.n_ret + p.den - 1) // p.den)
               AS target_rank,
             r.v AS est_cents
      FROM p JOIN ret r
        ON r.rn = greatest(1, (p.num * r.n_ret + p.den - 1) // p.den)
    ),
    ex AS (SELECT event_type, COUNT(*) AS n_exact FROM c
           GROUP BY event_type),
    tr AS (
      SELECT e.event_type, e.label, COUNT(*) AS true_rank_le
      FROM est e JOIN c ON c.event_type = e.event_type
                       AND c.v <= e.est_cents
      GROUP BY e.event_type, e.label
    )
    SELECT est.event_type, est.label, est.prob,
           CAST(est.lv AS INTEGER) AS level,
           CAST(est.n_ret AS BIGINT) AS n_retained,
           CAST(est.n_ret * (CAST(1 AS BIGINT) << est.lv) AS BIGINT)
             AS n_est,
           CAST(est.target_rank AS BIGINT) AS target_rank,
           est.est_cents,
           tr.true_rank_le,
           CAST(ex.n_exact AS BIGINT) AS n_exact
    FROM est JOIN tr ON tr.event_type = est.event_type
                    AND tr.label = est.label
             JOIN ex ON ex.event_type = est.event_type
    """,
)
def events_kll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP QUANTILE SKETCH — the production form of
    [[orders_kll_quantiles]] (whose single-set variant carries the
    merge = single-pass proof): p50/p90/p99 of event value PER EVENT
    TYPE, each group compacting to its own adaptive level (a hot event
    type subsamples deeper, a rare one stays exact at level 0 — the
    'p99 latency per endpoint' dashboard shape). Membership is the
    same hash-level rule, so every per-group sketch inherits the
    proven associativity: per-day/per-partition group sketches fold by
    refilter-at-max-level without rescanning.

    Exact per-group counts and the exact rank of each estimate
    (true_rank_le, via one broadcast comparison join) ride along so
    the realized rank error is visible next to target_rank·2^level.

    Scale shape: level counts are l_max+1 conditional sums in ONE
    map-side-combined groupBy(event_type); the retained filter is
    map-side after a broadcast of the |groups|-row level panel; rank
    windows partition by group over ≤capacity rows each. The only
    full-data work is the one aggregate pass and the broadcast rank
    check."""
    from ..operators.quantiles import level_counts
    from ..operators.sketch import hll_hash

    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.col("event_id").alias("id"),
        hll_hash(F.col("event_id")).alias("h"),
    )
    gc = level_counts(base, ["event_type"], l_max=_EKLL_LMAX)
    glevel = (
        gc.filter(F.col("cnt") <= _EKLL_CAP)
        .groupBy("event_type")
        .agg(F.min("lvl").cast("int").alias("lv"))
    )
    ret = base.join(F.broadcast(glevel), "event_type").filter(
        F.col("h") % F.expr("shiftleft(CAST(1 AS BIGINT), lv)") == 0
    )
    w_rank = Window.partitionBy("event_type").orderBy("v", "id")
    w_cnt = Window.partitionBy("event_type")
    ranked = ret.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_ret", F.count(F.lit(1)).over(w_cnt)
    )
    targets = spark.createDataFrame(
        [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
        schema="label string, num long, den long",
    )
    tgt = F.greatest(
        F.lit(1).cast("long"),
        F.expr("CAST((num * n_ret + den - 1) DIV den AS BIGINT)"),
    )
    est = (
        F.broadcast(targets)
        .join(ranked, ranked["rn"] == tgt)
        .select(
            "event_type",
            "label",
            (F.col("num").cast("double") / F.col("den")).alias("prob"),
            F.col("lv").alias("level"),
            F.col("n_ret").alias("n_retained"),
            tgt.alias("target_rank"),
            F.col("v").alias("est_cents"),
        )
        .localCheckpoint()  # ≤ |groups|·3 rows, read by two consumers
    )
    probe = est.select(
        F.col("event_type").alias("_et"), "label",
        F.col("est_cents").alias("_est")
    )
    true_rank = (
        base.join(
            F.broadcast(probe),
            (F.col("event_type") == F.col("_et"))
            & (F.col("v") <= F.col("_est")),
        )
        .groupBy("_et", "label")
        .agg(F.count(F.lit(1)).alias("true_rank_le"))
        .withColumnRenamed("_et", "event_type")
    )
    n_exact = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        est.join(true_rank, ["event_type", "label"])
        .join(F.broadcast(n_exact), "event_type")
        .select(
            "event_type",
            "label",
            "prob",
            "level",
            "n_retained",
            F.expr(
                "CAST(n_retained * shiftleft(CAST(1 AS BIGINT), level)"
                " AS BIGINT)"
            ).alias("n_est"),
            "target_rank",
            "est_cents",
            "true_rank_le",
            "n_exact",
        )
    )


# ---------------------------------------------------------------------------
# Stream-maintained KLL state: the quantile sketch living in the
# checkpointed state store, provably equal to the batch sketch
# ---------------------------------------------------------------------------


@query(
    "events_streaming_kll_state",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             event_id AS id,
             {_HLL_HASH_SQL.format(col="event_id")} AS h
      FROM events
    ),
    lvls AS (SELECT unnest(range(0, {_EKLL_LMAX + 1})) AS lvl),
    gcounts AS (
      SELECT event_type, lvl,
             COUNT(*) FILTER (WHERE h % (CAST(1 AS BIGINT) << lvl) = 0)
               AS cnt
      FROM c, lvls GROUP BY event_type, lvl
    ),
    glevel AS (
      SELECT event_type, MIN(lvl) AS lv FROM gcounts
      WHERE cnt <= {_EKLL_CAP} GROUP BY event_type
    ),
    ret AS (
      SELECT c.event_type, c.v, c.id, g.lv,
             row_number() OVER (PARTITION BY c.event_type
                                ORDER BY c.v, c.id) AS rn,
             COUNT(*) OVER (PARTITION BY c.event_type) AS n_ret
      FROM c JOIN glevel g USING (event_type)
      WHERE h % (CAST(1 AS BIGINT) << lv) = 0
    ),
    ex AS (SELECT event_type, COUNT(*) AS n_seen FROM c
           GROUP BY event_type)
    SELECT r.event_type,
           CAST(MAX(r.lv) AS INTEGER) AS level,
           CAST(MAX(ex.n_seen) AS BIGINT) AS n_seen,
           CAST(MAX(r.n_ret) AS BIGINT) AS n_retained,
           CAST(SUM(r.v) AS BIGINT) AS ret_v_sum,
           CAST(SUM(r.id) AS BIGINT) AS ret_id_sum,
           CAST(MAX(CASE WHEN r.rn = greatest(1, (r.n_ret + 1) // 2)
                    THEN r.v END) AS BIGINT) AS p50_cents,
           CAST(MAX(CASE WHEN r.rn = greatest(1, (9 * r.n_ret + 9) // 10)
                    THEN r.v END) AS BIGINT) AS p90_cents,
           CAST(MAX(CASE WHEN r.rn = greatest(1, (99 * r.n_ret + 99) // 100)
                    THEN r.v END) AS BIGINT) AS p99_cents
    FROM ret r JOIN ex ON ex.event_type = r.event_type
    GROUP BY r.event_type
    """,
)
def events_streaming_kll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE QUANTILE SKETCH AS STREAMING STATE — the composition the
    level-sampling design exists for: per-key sketch state lives in
    the checkpointed state store (``applyInPandasWithState``), each
    micro-batch inserts its rows (filtered at the key's CURRENT
    level) and raises the level until the sample fits capacity again.
    Because membership is a pure function of each item's hash, the
    state after ANY sequence of batches equals the single-pass batch
    sketch BIT-EXACTLY — the same associativity that powered
    [[orders_kll_quantiles]]'s shard-merge proof, here proving that a
    stream consumer restarted mid-drain or fed by any batching
    converges to the identical sketch. The ORACLE IS THE BATCH
    SKETCH: the driver hash-compares the drained stream's final state
    (level, retained sums, p50/p90/p99) against the relational
    single-pass form — a full-strength equality, not a rows-only
    check (tests/test_stateful_streaming.py additionally drives a
    3-trigger split and asserts the same equality).

    State per key: level + three ≤capacity arrays (values, ids,
    hashes) — bounded regardless of stream length, the property that
    lets this run indefinitely at 100 TB/day ingest. Emissions are
    update-mode; the final update per key (max cumulative n_seen)
    wins."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sketch import hll_hash

    src = replay(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.col("event_id").alias("id"),
        hll_hash(F.col("event_id")).alias("h"),
    )
    totals = src.groupBy("event_type").applyInPandasWithState(
        _kll_state_fn,
        "event_type string, level int, n_seen long, n_retained long, "
        "ret_v_sum long, ret_id_sum long, p50_cents long, p90_cents long, "
        "p99_cents long",
        "lv int, n_seen long, vs array<long>, ids array<long>, "
        "hs array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return last_update(drain(totals, "update"), "event_type", "n_seen")


def _kll_state_fn(key, pdfs, state):
    """State-update function for the streaming level sketch (module
    level so tests drive it through their own stream wiring): insert
    at the current level, raise the level until ≤ capacity, emit the
    key's full sketch summary."""
    import pandas as pd

    # Share the oracle's level bound: the batch oracle only scans
    # levels 0.._EKLL_LMAX, so a key raised beyond it would be emitted
    # by the stream but invisible to the gate — fail loudly instead.
    cap, l_max = _EKLL_CAP, _EKLL_LMAX
    if state.exists:
        lv, n_seen, vs, ids, hs = state.get
        vs, ids, hs = list(vs), list(ids), list(hs)
    else:
        lv, n_seen, vs, ids, hs = 0, 0, [], [], []
    for pdf in pdfs:
        n_seen += len(pdf)
        hh = pdf["h"].to_numpy()
        m = (hh % (1 << lv)) == 0
        vs += pdf["v"].to_numpy()[m].tolist()
        ids += pdf["id"].to_numpy()[m].tolist()
        hs += hh[m].tolist()
        while len(vs) > cap:
            lv += 1
            if lv > l_max:  # pragma: no cover — cap·2^32 rows per key
                raise ValueError("kll state: level overflow")
            keep = [j for j, h in enumerate(hs) if h % (1 << lv) == 0]
            vs = [vs[j] for j in keep]
            ids = [ids[j] for j in keep]
            hs = [hs[j] for j in keep]
    state.update((lv, n_seen, vs, ids, hs))
    order = sorted(range(len(vs)), key=lambda j: (vs[j], ids[j]))
    n = len(order)

    def est(num: int, den: int):
        if n == 0:
            return None
        return vs[order[max(1, (num * n + den - 1) // den) - 1]]

    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "level": [lv],
            "n_seen": [n_seen],
            "n_retained": [n],
            "ret_v_sum": [sum(vs)],
            "ret_id_sum": [sum(ids)],
            "p50_cents": [est(1, 2)],
            "p90_cents": [est(9, 10)],
            "p99_cents": [est(99, 100)],
        }
    )


# ---------------------------------------------------------------------------
# Position-based multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "events_position_attribution",
    oracle="""
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.event_id) AS pos,
             COUNT(*) OVER (PARTITION BY p.event_id) AS k
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    ),
    credited AS (
      SELECT user_id, purchase_id, click_id,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN pos = 1 OR pos = k THEN 0.4
                  ELSE 0.2 / (k - 2) END AS credit
      FROM pairs
    )
    SELECT user_id,
           COUNT(DISTINCT purchase_id) AS n_purchases,
           COUNT(*) AS n_credited_clicks,
           CAST(SUM(CAST(round(credit, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_credit
    FROM credited GROUP BY user_id
    """,
)
def events_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase's 30-minute click window splits conversion credit 40% to
    the first touch, 40% to the last, 20% across the middle (solo
    click takes 1.0, a pair splits evenly) — the marketing-analytics
    standard between last-click and Shapley. One windowed rank over
    the per-purchase click set assigns positions; credits are exact
    rationals of the window size, rounded to 6 dp and summed as
    decimals so per-user totals are order-independent.

    Every purchase's credit sums to exactly 1.0 — the invariant that
    makes attribution reports reconcile with the conversion count."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    wp = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.row_number().over(wp.orderBy("c_ts", "click_id")).alias("pos"),
        F.count(F.lit(1)).over(wp).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        ranked.withColumn("credit", credit)
        .groupBy("user_id")
        .agg(
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_credited_clicks"),
            F.sum(F.round(F.col("credit"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_credit"),
        )
    )


# ---------------------------------------------------------------------------
# ML dataset construction: temporal split + churn feature/label windows
# ---------------------------------------------------------------------------


@query(
    "events_temporal_split",
    oracle="""
    WITH tagged AS (
      SELECT user_id,
             CASE WHEN ts < TIMESTAMP '2024-01-21' THEN 'train'
                  ELSE 'test' END AS split
      FROM events
    ),
    per_split AS (
      SELECT split, COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS n_users
      FROM tagged GROUP BY split
    ),
    overlap AS (
      SELECT COUNT(*) AS n_overlap_users FROM (
        SELECT user_id FROM tagged GROUP BY user_id
        HAVING COUNT(DISTINCT split) = 2
      )
    )
    SELECT p.split, p.n_events, p.n_users, o.n_overlap_users
    FROM per_split p CROSS JOIN overlap o
    """,
)
def events_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split — the ONLY honest split for
    time-dependent data (a random row split lets the model see the
    future): everything before the cut date trains, everything after
    tests, and the report carries the leakage statistic every split
    audit needs — how many users appear on BOTH sides (their test
    rows are not cold-start predictions). One tag projection, one
    rollup, one distinct-split-count per user; no shuffle beyond the
    two aggregates."""
    ev = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-21").cast("timestamp")
    tagged = ev.select(
        "user_id",
        F.when(F.col("ts") < cut, "train").otherwise("test").alias("split"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    overlap = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .agg(F.count(F.lit(1)).alias("n_overlap_users"))
    )
    return per_split.crossJoin(F.broadcast(overlap))


@query(
    "events_churn_labels",
    oracle="""
    WITH feat AS (
      SELECT user_id,
             COUNT(*) AS n_events_feat,
             COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents_feat
      FROM events WHERE ts < TIMESTAMP '2024-01-21'
      GROUP BY user_id
    ),
    lab AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-21' AND ts < TIMESTAMP '2024-01-28'
    )
    SELECT f.user_id, f.n_events_feat, f.n_active_days, f.value_cents_feat,
           CAST(l.user_id IS NOT NULL AS INT) AS is_retained
    FROM feat f LEFT JOIN lab l USING (user_id)
    """,
)
def events_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn training-set construction: per-user FEATURES from the
    window before the cut (event count, active days, integer-cent
    value) and the LABEL from a disjoint 7-day window after it
    (retained = any activity) — the feature/label time separation
    that prevents target leakage, expressed as two window-filtered
    aggregates and one left join. Users with no feature-window
    activity are correctly absent (nothing to predict from); users
    who churn get label 0 via the null-padded join.

    Both window filters push to the parquet scan; the join key is the
    same user shuffle the feature aggregate already produced."""
    ev = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-21").cast("timestamp")
    lab_end = F.lit("2024-01-28").cast("timestamp")
    feat = (
        ev.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_feat"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("value_cents_feat"),
        )
    )
    lab = (
        ev.filter((F.col("ts") >= cut) & (F.col("ts") < lab_end))
        .select("user_id")
        .distinct()
        .withColumn("_r", F.lit(1))
    )
    return feat.join(lab, "user_id", "left").select(
        "user_id",
        "n_events_feat",
        "n_active_days",
        "value_cents_feat",
        F.coalesce(F.col("_r"), F.lit(0)).cast("int").alias("is_retained"),
    )


# ---------------------------------------------------------------------------
# Rolling weekly-active-users (sliding-window distinct)
# ---------------------------------------------------------------------------


@query(
    "events_rolling_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    contrib AS (
      SELECT user_id, d + CAST(x AS INTEGER) AS report_day
      FROM user_days CROSS JOIN (SELECT unnest(range(0, 7)) AS x)
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS report_day FROM events)
    SELECT c.report_day,
           COUNT(DISTINCT c.user_id) AS wau
    FROM contrib c JOIN days USING (report_day)
    GROUP BY c.report_day
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the engagement metric a
    DISTINCT window aggregate can't express (Spark refuses
    COUNT(DISTINCT) OVER, and buffering each day's user set is
    quadratic state). The scalable identity: a user active on day d
    contributes to exactly the 7 report days [d, d+6] — so deduplicate
    to (user, active-day), EXPLODE each into its 7 contribution days
    (a bounded 7× factor on the already-small distinct pairs, nothing
    like raw event volume), and distinct-count per report day.
    Restricted to days that exist in the data, so edges are
    well-defined.

    Same first-occurrence family as events_cumulative_unique_users —
    running-distinct tricks are substitution identities, not window
    functions."""
    ev = t(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("x"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("x")).alias("report_day"))
    days = ev.select(F.col("ts").cast("date").alias("report_day")).distinct()
    return (
        contrib.join(F.broadcast(days), "report_day")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# ---------------------------------------------------------------------------
# Multi-granularity rollup cascade (hour -> day -> month, lossless)
# ---------------------------------------------------------------------------


@query(
    "events_rollup_cascade",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n, SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY h, event_type
    ),
    daily AS (
      SELECT CAST(date_trunc('day', h) AS DATE) AS d, event_type,
             SUM(n) AS n, SUM(cents) AS cents
      FROM hourly GROUP BY d, event_type
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS m, event_type,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS value_cents
      FROM daily GROUP BY m, event_type
    ),
    direct AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS m, event_type,
             COUNT(*) AS n_direct
      FROM events GROUP BY m, event_type
    )
    SELECT mo.m AS month, mo.event_type, mo.n_events, mo.value_cents,
           CAST(mo.n_events = di.n_direct AS INT) AS cascade_matches_direct
    FROM monthly mo JOIN direct di
      ON di.m = mo.m AND di.event_type = mo.event_type
    """,
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AGGREGATION CASCADE: hour rollup from raw events, day FROM
    the hour rollup, month FROM the day rollup — each level reads the
    previous level's (tiny) output, never the raw data again. This is
    how a 100 TB metrics store actually serves multi-granularity
    queries: ingest aggregates once into the finest grain, and every
    coarser grain is a re-aggregation of partials (valid because count
    and integer-cent sums are associative — a mean or percentile would
    need its decomposed form first). The in-row flag compares the
    cascaded month against a direct-from-raw month count — 1
    everywhere, the losslessness proof.

    Integer cents (floor(v·100+0.5)) rather than float sums make every
    level exactly mergeable — same discipline as the stateful-streaming
    accumulator."""
    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    daily = hourly.groupBy(
        F.date_trunc("day", "h").cast("date").alias("d"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    monthly = daily.groupBy(
        F.date_trunc("month", "d").cast("date").alias("m"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    direct = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("m"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_direct"))
    return monthly.join(direct, ["m", "event_type"]).select(
        F.col("m").alias("month"),
        "event_type",
        "n_events",
        "value_cents",
        (F.col("n_events") == F.col("n_direct")).cast("int").alias(
            "cascade_matches_direct"
        ),
    )


# ---------------------------------------------------------------------------
# VARIANT ingestion (Spark 4 semi-structured type): parse once into the
# binary variant encoding, extract typed fields, tolerate corrupt rows.
# ---------------------------------------------------------------------------


@query(
    "events_variant_props",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN event_id % 97 = 0 THEN '{"k":' ELSE props END AS pj
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN NOT json_valid(pj) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN json_valid(pj)
                         THEN CAST(json_extract_string(pj, '$.k') AS BIGINT)
                    END) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_valid(pj)
                          AND json_extract_string(pj, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_no_extra
    FROM raw GROUP BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: props
    parse ONCE into the binary variant encoding (``try_parse_json`` —
    corrupt documents, injected deterministically on every 97th event,
    become NULL instead of failing the job), then typed field access
    via ``variant_get`` paths, including a missing-path probe that
    must come back NULL rather than erroring.

    Scale note: variant's binary encoding is the columnar-shredding
    path for 100 TB semi-structured columns — parse cost is paid once
    per row (not once per path access like repeated get_json_object),
    and typed extraction stays a JVM expression inside the single
    hash-aggregate pass. The oracle mirrors the same semantics through
    DuckDB's JSON functions (json_valid / json_extract_string)."""
    e = t(spark, sf_dir, "events")
    v = F.try_parse_json(
        F.when(F.col("event_id") % 97 == 0, F.lit('{"k":')).otherwise(
            F.col("props")
        )
    )
    k = F.try_variant_get(v, "$.k", "bigint")
    extra = F.try_variant_get(v, "$.missing", "string")
    return (
        e.select("event_type", v.alias("v"), k.alias("k"), extra.alias("extra"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_corrupt"),
            F.sum("k").alias("sum_k"),
            F.sum(
                F.when(F.col("v").isNotNull() & F.col("extra").isNull(), 1).otherwise(0)
            ).alias("n_no_extra"),
        )
    )


# ---------------------------------------------------------------------------
# Gap filling: last-observation-carried-forward via IGNORE NULLS
# ---------------------------------------------------------------------------


@query(
    "events_gap_fill_locf",
    oracle="""
    WITH sparse AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    filled AS (
      SELECT user_id, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS filled
      FROM sparse
    )
    SELECT user_id,
           COUNT(*) AS n_readings,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(SUM(CASE WHEN v IS NULL AND filled IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(CAST(filled AS DECIMAL(18,2))) AS DOUBLE) AS filled_sum
    FROM filled GROUP BY user_id
    """,
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap filling: a deterministic
    20% of readings are nulled out (every 5th event id — the sensor
    dropout simulation), then each user's series is repaired with
    ``last_value(... IGNORE NULLS)`` over event time. Gaps before the
    first real reading stay NULL (n_gaps vs n_filled shows them). The
    exact-decimal sum over the filled series proves repaired values
    are the right ones, not merely non-null.

    Scale shape: one window sorted within the user partition (the
    same partitioning every per-user operator here reuses), then one
    map-side-combined rollup. IGNORE NULLS is a frame-native JVM
    expression — no sentinel self-join, no UDF."""
    e = t(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    filled = e.select("user_id", "ts", "event_id", v.alias("v")).withColumn(
        "filled", F.last("v", ignorenulls=True).over(w)
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_gaps"),
        F.sum(
            F.when(F.col("v").isNull() & F.col("filled").isNotNull(), 1).otherwise(0)
        ).alias("n_filled"),
        F.sum(F.col("filled").cast("decimal(18,2)")).cast("double").alias("filled_sum"),
    )


# ---------------------------------------------------------------------------
# Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------


@query(
    "events_stream_dedup_watermark",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_unique,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY event_type
    """,
)
def events_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state (`dropDuplicatesWithinWatermark`):
    every event is deliberately delivered twice (at-least-once delivery
    simulated by exploding each row into two copies), and the operator
    drops the duplicate while only retaining per-key state until the
    watermark passes it — the mechanism that keeps exactly-once dedup
    state from growing without bound on an infinite stream, unlike a
    plain dropDuplicates whose key set never expires. The downstream
    integer-cent aggregate must equal the batch GROUP BY over the
    ORIGINAL (single-delivery) table: any surviving duplicate doubles
    a count and fails the hash.

    Scale shape: dedup state shuffles once on event_id and expires
    with the watermark; the aggregate reuses the standard two-level
    hash-agg. (The custom drain in streaming/pipeline.py solves the
    same problem with explicit state; this is the built-in form.)"""
    # watermarks require an instant (TIMESTAMP), not NTZ; the session is
    # pinned UTC so the cast is deterministic
    src = replay(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    duplicated = src.select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("_copy"),
        "event_id",
        "ts",
        "event_type",
        "value",
    ).drop("_copy")
    deduped = duplicated.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("total_cents"),
    )
    return drain(agg, "complete")


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency and time-weighted averages
# ---------------------------------------------------------------------------


@query(
    "events_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT CAST(ts AS DATE) AS day, epoch_ms(ts) AS t0, epoch_ms(ts) + 600000 AS t1
      FROM events
    ),
    deltas AS (
      SELECT day, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT day, t1 AS t, -1 AS delta FROM iv
    ),
    running AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
      FROM deltas
    )
    SELECT day,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM running GROUP BY day
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by SWEEP LINE: each event opens a 10-minute
    interval, intervals become +1/-1 boundary deltas, and the daily
    maximum of the running sum is the peak number of simultaneously
    open intervals — the classic interval-overlap aggregation
    (concurrent sessions, connection-pool high-water marks) done with
    one window, no interval self-join (the O(N^2) trap). Boundary
    convention: an interval ending exactly when another starts does
    NOT overlap it (-1 sorts before +1 at equal time).

    Scale shape: the sweep is PER DAY (intervals attributed to their
    start day — exact here since none cross midnight), so the sort is
    within the day partition, never global; a year of 100 TB events
    sweeps as 365 independent partitions."""
    e = t(spark, sf_dir, "events")
    iv = e.select(
        F.col("ts").cast("date").alias("day"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t0"),
    ).withColumn("t1", F.col("t0") + 600000)
    deltas = iv.select("day", F.col("t0").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select("day", F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.withColumn("live", F.sum("delta").over(w))
    return running.groupBy("day").agg(
        F.max("live").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


@query(
    "events_time_weighted_value",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_ms(ts) AS t,
             lead(epoch_ms(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(t_next - t) AS BIGINT) AS total_dur_ms,
           CAST(SUM(cents * (t_next - t)) AS BIGINT) AS cent_millis,
           CAST(SUM(cents * (t_next - t)) AS DOUBLE) / SUM(t_next - t)
             AS tw_mean_cents
    FROM seq WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average (the TWAP shape): each reading holds
    until the user's next event, so the mean weights every value by
    its holding duration — the correct aggregate for balances, prices,
    and gauge metrics where plain AVG over-counts bursts. Durations
    from lead() over the per-user timeline in integer MILLISECONDS
    (DuckDB's epoch() is fractional while Spark's unix_timestamp
    truncates — millis are exact integers in both engines), so the
    cent-millisecond sums are exact (one final division).

    Scale shape: one window + one rollup, both on the user partition
    the event queries already shuffle on."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("t"),
        F.lead(F.unix_millis(F.col("ts").cast("timestamp"))).over(w).alias(
            "t_next"
        ),
    )
    dur = F.col("t_next") - F.col("t")
    return (
        seq.filter(F.col("t_next").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(dur).alias("total_dur_ms"),
            F.sum(F.col("cents") * dur).alias("cent_millis"),
        )
        .select(
            "user_id",
            "n_intervals",
            "total_dur_ms",
            "cent_millis",
            (
                F.col("cent_millis").cast("double") / F.col("total_dur_ms")
            ).alias("tw_mean_cents"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing: sequential recurrences via grouped-map pandas UDF,
# oracled by DuckDB's equally-sequential list_reduce fold
# ---------------------------------------------------------------------------


@query(
    "events_ewma_smoothing",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(CAST(floor(value * 100 + 0.5) AS DOUBLE)
                  ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(xs) AS BIGINT) AS n_points,
           list_reduce(xs, (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma_cents
    FROM ordered
    """,
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (exponentially weighted moving average) per user — the
    sequential recurrence e_t = a*x_t + (1-a)*e_{t-1} that no
    commutative aggregate expresses. Computed in a grouped-map
    ``applyInPandas`` (one Arrow batch per user, a float64 loop in
    time order); the oracle runs the IDENTICAL recurrence as DuckDB's
    list_reduce fold. Because BOTH engines evaluate the same strictly
    sequential op chain, the result hashes bit-for-bit with no
    rounding at all — the determinism rule for sequential float state:
    pin the evaluation ORDER, not just the values.

    Scale shape: state is one float per user; groups shuffle once on
    user_id. (A segment-tree windowed SUM would NOT match — engines
    disagree on addition tree shape; the fold form is the portable
    one.)"""
    import pandas as pd

    e = t(spark, sf_dir, "events")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        acc = None
        for x in pdf["cents"]:
            acc = x if acc is None else 0.2 * x + 0.8 * acc
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pdf)],
                "ewma_cents": [acc],
            }
        )

    src = e.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("double").alias("cents"),
    )
    return src.groupBy("user_id").applyInPandas(
        ewma, schema="user_id long, n_points long, ewma_cents double"
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly detection: hour-of-week profile vs actuals
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             (isodow(ts) - 1) * 24 + hour(ts) AS how,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    split AS (
      SELECT *, h >= TIMESTAMP '2024-01-25' AS is_eval FROM hourly
    ),
    baseline AS (
      SELECT how,
             CAST(SUM(n) AS BIGINT) AS base_total,
             CAST(COUNT(*) AS BIGINT) AS base_hours
      FROM split WHERE NOT is_eval GROUP BY how
    )
    SELECT s.how,
           CAST(COUNT(*) AS BIGINT) AS eval_hours,
           CAST(SUM(s.n) AS BIGINT) AS eval_total,
           b.base_total, b.base_hours,
           CAST(SUM(CASE WHEN s.n * b.base_hours > 2 * b.base_total
                          AND s.n >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalous_hours
    FROM split s JOIN baseline b USING (how)
    WHERE s.is_eval
    GROUP BY s.how, b.base_total, b.base_hours
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: traffic has an hour-of-week
    rhythm, so raw thresholds misfire every weekend — the baseline is
    the per-hour-of-week mean rate learned from the first 3.5 weeks of
    history, and an evaluation hour is anomalous when its count
    exceeds 2x its OWN hour-of-week baseline (integer cross-product
    comparison n*base_hours > 2*base_total — no float rate) with a
    minimum-support floor. The ops-monitoring twin of the PSI drift
    monitor (which watches distributions; this watches rates).

    Scale shape: two map-side-combined aggregates (hourly, then
    hour-of-week) and a broadcast join of the 168-row baseline."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.select(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            ((F.weekday("ts")) * 24 + F.hour("ts")).alias("how"),
        )
        .groupBy("h", "how")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    split = hourly.withColumn("is_eval", F.col("h") >= F.lit("2024-01-25").cast("timestamp"))
    baseline = (
        split.filter(~F.col("is_eval"))
        .groupBy("how")
        .agg(
            F.sum("n").alias("base_total"),
            F.count(F.lit(1)).alias("base_hours"),
        )
    )
    ev = split.filter(F.col("is_eval"))
    anomalous = (
        F.col("n") * F.col("base_hours") > 2 * F.col("base_total")
    ) & (F.col("n") >= 5)
    return (
        ev.join(F.broadcast(baseline), "how")
        .groupBy("how", "base_total", "base_hours")
        .agg(
            F.count(F.lit(1)).alias("eval_hours"),
            F.sum("n").alias("eval_total"),
            F.sum(F.when(anomalous, 1).otherwise(0)).alias("n_anomalous_hours"),
        )
        .select(
            "how", "eval_hours", "eval_total", "base_total", "base_hours",
            "n_anomalous_hours",
        )
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two event-type series
# ---------------------------------------------------------------------------


@query(
    "events_cross_correlation",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-2, 3)) AS lag),
    shifted AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN hourly a ON TRUE
      JOIN hourly b ON b.h = a.h + to_hours(l.lag::BIGINT)
    ),
    moments AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM shifted GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS xcorr
    FROM moments
    """,
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAGGED CROSS-CORRELATION between the hourly view series and the
    purchase series shifted by -2..+2 hours — the lead/lag diagnostic
    behind 'does activity in X precede conversions in Y' questions.
    Each lag's Pearson correlation comes from EXACT integer moment
    sums (the one-pass identity n*Sxy - Sx*Sy etc.), so the only
    floats are one fixed-order division/sqrt chain per lag.

    Scale shape: the hourly rollup is the only pass over events; the
    lag join runs on the |hours| aggregate with a +lag equi-join (a
    self-join of metadata-sized series, one row per lag after the
    moment rollup)."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "y"
        ),
    )
    lags = spark.range(-2, 3).select(F.col("id").cast("int").alias("lag"))
    a = hourly.select(F.col("h").alias("ha"), "x")
    b = hourly.select(F.col("h").alias("hb"), "y")
    shifted = (
        lags.crossJoin(a)
        .join(
            b,
            F.col("hb")
            == F.col("ha") + F.make_interval(hours=F.col("lag")),
        )
    )
    m = shifted.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "lag", "n", (num / F.sqrt(vx * vy)).alias("xcorr")
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming file sink via manifest commits
# ---------------------------------------------------------------------------


@query(
    "streaming_manifest_sink",
    oracle="""
    WITH gen AS (
      SELECT ((48271 * i + 11213) % 2147483647) % 1000000 AS micro_value,
             CASE WHEN ((48271 * i + 11213) % 2147483647) % 97 <> 0
                  THEN 'ok' ELSE 'fault' END AS status
      FROM (SELECT unnest(range(0, 20000)) AS i)
    )
    SELECT status,
           COUNT(*) AS n_readings,
           CAST(SUM(micro_value) AS BIGINT) AS total_micro,
           CAST(ceil(20000.0 / 3072) AS BIGINT) AS n_batches
    FROM gen GROUP BY status
    """,
)
def streaming_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming file sink on a plain filesystem
    (streaming/manifest_sink.py): every micro-batch writes its files
    and then atomically publishes a manifest (temp + rename = the
    commit point); the reader consumes ONLY manifested files, so
    half-written batches are invisible and replayed batches are
    skipped by their existing manifest — the commit discipline a table
    format provides, built from two filesystem primitives. Fed by the
    custom streaming source's 7 deterministic micro-batches; the
    drained aggregate must equal the generator twin exactly (any
    dropped or doubled batch shifts counts) and n_batches counts the
    committed manifests."""
    import uuid

    from ..sources.pygen import register
    from ..streaming.manifest_sink import manifest_sink, read_manifested

    register(spark)
    src = (
        spark.readStream.format("sensorgen")
        .option("max_rows", "20000")
        .option("rows_per_batch", "3072")
        .load()
    )
    root = run_tmpdir("manifest_sink_")
    manifest_sink(src, root + "/out", root + "/cp_" + uuid.uuid4().hex[:8])
    drained, n_batches = read_manifested(spark, root + "/out")
    return drained.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("micro_value").alias("total_micro"),
        F.lit(n_batches).cast("long").alias("n_batches"),
    )


# ---------------------------------------------------------------------------
# SRE multiwindow SLO burn rate and funnel time-to-convert
# ---------------------------------------------------------------------------


@query(
    "events_slo_burn_rate",
    oracle="""
    WITH windows(w_name, w_hours) AS (VALUES ('1h', 1), ('6h', 6), ('24h', 24)),
    bounds AS (SELECT MAX(ts) AS t_max FROM events),
    rates AS (
      SELECT w.w_name, w.w_hours,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM windows w, bounds b, events e
      WHERE e.ts > b.t_max - to_hours(CAST(w.w_hours AS BIGINT))
      GROUP BY w.w_name, w.w_hours
    )
    SELECT w_name, n_events, n_errors,
           CAST(round(CAST(n_errors AS DOUBLE) * 1000000 / n_events) AS BIGINT)
             AS error_ppm,
           CAST(round(CAST(n_errors AS DOUBLE) * 1000000 / n_events) AS DOUBLE)
             / 250000 AS burn_rate,
           CAST(CAST(round(CAST(n_errors AS DOUBLE) * 1000000 / n_events)
                     AS DOUBLE) / 250000 > 2.0 AS INT) AS alerting
    FROM rates
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO BURN-RATE alerting (the SRE-workbook multiwindow rule): the
    error-rate over trailing 1h/6h/24h windows anchored at the newest
    event, expressed as a multiple of the error budget (SLO: 75% of
    events non-error -> 250000 ppm budget); an alert fires when a
    window burns budget at >2x. Multiple simultaneous windows separate
    fast-burn pages from slow-burn tickets. Rates are integer ppm
    (one rounding each), the burn ratio one further division.

    Scale shape: the window bounds prune the scan (trailing-window
    predicate pushdown); three conditional aggregates share one pass
    via the windows-values join."""
    e = t(spark, sf_dir, "events")
    t_max = e.agg(F.max("ts").alias("t_max"))
    windows = spark.createDataFrame(
        [("1h", 1), ("6h", 6), ("24h", 24)], "w_name string, w_hours int"
    )
    joined = (
        windows.crossJoin(F.broadcast(t_max))
        .join(
            e,
            F.col("ts")
            > F.col("t_max") - F.make_interval(hours=F.col("w_hours")),
        )
    )
    rates = joined.groupBy("w_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    ppm = F.round(
        F.col("n_errors").cast("double") * 1000000 / F.col("n_events")
    ).cast("long")
    burn = ppm.cast("double") / 250000
    return rates.select(
        "w_name",
        "n_events",
        "n_errors",
        ppm.alias("error_ppm"),
        burn.alias("burn_rate"),
        (burn > 2.0).cast("int").alias("alerting"),
    )


@query(
    "events_funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
               AS t_purchase
      FROM events GROUP BY user_id
    ),
    lags AS (
      SELECT user_id, (t_purchase - t_view) AS lag_ms
      FROM firsts
      WHERE t_view IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_view
    ),
    ranked AS (
      SELECT lag_ms,
             row_number() OVER (ORDER BY lag_ms, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM lags
    )
    SELECT CAST(n AS BIGINT) AS n_converted,
           CAST(MIN(lag_ms) AS BIGINT) AS min_lag_ms,
           CAST(MAX(CASE WHEN 2 * rn <= n + 1 THEN lag_ms END) AS BIGINT)
             AS median_lag_ms,
           CAST(MAX(lag_ms) AS BIGINT) AS max_lag_ms
    FROM ranked GROUP BY n
    """,
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel TIME-TO-CONVERT: for users whose first view precedes
    their first purchase, the distribution of the lag between the two
    firsts — the latency dimension the count-based funnel
    (events_session_funnel) doesn't carry. Median by explicit rank
    (largest lag among the lower half — the discrete lower median, the
    same convention both engines compute with integer ranks); all lags
    integer milliseconds.

    Scale shape: one conditional-min rollup per user, then ranking
    over the CONVERTED-user aggregate only."""
    e = t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ms)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", ms)).alias("t_purchase"),
    )
    lags = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_view"))
    ).select("user_id", (F.col("t_purchase") - F.col("t_view")).alias("lag_ms"))
    w = Window.orderBy("lag_ms", "user_id")
    ranked = lags.withColumn("rn", F.row_number().over(w)).crossJoin(
        F.broadcast(lags.agg(F.count(F.lit(1)).alias("n")))
    )
    return ranked.groupBy("n").agg(
        F.min("lag_ms").alias("min_lag_ms"),
        F.max(F.when(2 * F.col("rn") <= F.col("n") + 1, F.col("lag_ms"))).alias(
            "median_lag_ms"
        ),
        F.max("lag_ms").alias("max_lag_ms"),
    ).select(
        F.col("n").cast("long").alias("n_converted"),
        "min_lag_ms",
        "median_lag_ms",
        "max_lag_ms",
    )


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution (4-channel coalition game)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
#: (channel_bit, T, T|c, weight_numerator) for every coalition not
#: containing the channel; weight = |T|!(4-|T|-1)!/4! = num/24.
_SHAP_PAIRS = [
    (bit, T, T | bit, {0: 6, 1: 2, 2: 2, 3: 6}[bin(T).count("1")])
    for _, bit in _SHAP_CHANNELS
    for T in range(16)
    if not T & bit
]
_SHAP_PAIRS_SQL = ", ".join(f"({c}, {t}, {tc}, {n})" for c, t, tc, n in _SHAP_PAIRS)
_SHAP_NAMES_SQL = ", ".join(f"('{n}', {b})" for n, b in _SHAP_CHANNELS)


@query(
    "events_shapley_attribution",
    oracle=f"""
    WITH journey AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    touched AS (
      -- attribution window: the user's first four touchpoints (full
      -- histories touch every channel here, degenerating the game)
      SELECT user_id,
             CAST(SUM(DISTINCT CASE WHEN rn <= 4 THEN CASE event_type
                    WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'error' THEN 8
                    ELSE 0 END ELSE 0 END) AS BIGINT) AS mask,
             CAST(CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) > COUNT(*)
                       THEN 1 ELSE 0 END AS BIGINT) AS converted
      FROM journey GROUP BY user_id
    ),
    subsets AS (SELECT unnest(range(0, 16)) AS t),
    vtab AS (
      SELECT s.t,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COALESCE(SUM(u.converted), 0) AS BIGINT) AS n_conv,
             CASE WHEN COUNT(*) > 0
                  THEN CAST(COALESCE(SUM(u.converted), 0) AS DOUBLE) / COUNT(*)
                  ELSE 0.0 END AS v
      FROM subsets s LEFT JOIN touched u ON (u.mask & s.t) = u.mask
      GROUP BY s.t
    ),
    pairs(cbit, t, tc, wnum) AS (VALUES {_SHAP_PAIRS_SQL}),
    names(channel, cbit) AS (VALUES {_SHAP_NAMES_SQL}),
    terms AS (
      SELECT n.channel,
             CAST(round((vc.v - vt.v) * p.wnum / 24, 12) AS DECIMAL(20,12))
               AS term
      FROM pairs p
      JOIN names n USING (cbit)
      JOIN vtab vt ON vt.t = p.t
      JOIN vtab vc ON vc.t = p.tc
    )
    SELECT channel, CAST(SUM(term) AS DOUBLE) AS shapley_value
    FROM terms GROUP BY channel
    """,
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE attribution over the four non-purchase
    channels: the coalition value v(T) is the empirical conversion
    rate of users whose first-four-touchpoint channel set is CONTAINED
    in T
    (conversion = the user's purchase share exceeds 20% of their
    events — a volume-independent label; estimated from the data for
    all 16 coalitions), and each
    channel's credit is the exact Shapley sum over its 8
    marginal-contribution terms with factorial weights — the
    game-theoretically fair division that position-based attribution
    (events_attribution) approximates. Four channels make the 2^4
    coalition table exact; beyond ~10 channels you sample permutations
    instead, same machinery.

    Determinism: v values are single divisions; every term is a
    fixed-order float chain rounded to 12 dp and summed as exact
    decimals. Scale shape: one per-user rollup (bitmask OR), a
    16-coalition containment aggregate (broadcast), and literal weight
    tables."""
    e = t(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    w_j = Window.partitionBy("user_id").orderBy("ts", "event_id")
    journey = e.withColumn("rn", F.row_number().over(w_j))
    touched = journey.groupBy("user_id").agg(
        F.sum_distinct(F.when(F.col("rn") <= 4, bit).otherwise(0))
        .cast("long")
        .alias("mask"),
        (
            5
            * F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.count(F.lit(1))
        )
        .cast("long")
        .alias("converted"),
    )
    subsets = spark.range(0, 16).select(F.col("id").cast("long").alias("t"))
    vtab = (
        subsets.join(
            touched,
            F.col("mask").bitwiseAND(F.col("t")) == F.col("mask"),
            "left",
        )
        .groupBy("t")
        .agg(
            F.count(F.col("user_id")).alias("n_users"),
            F.coalesce(F.sum("converted"), F.lit(0)).alias("n_conv"),
        )
        .select(
            "t",
            F.when(
                F.col("n_users") > 0,
                F.col("n_conv").cast("double") / F.col("n_users"),
            )
            .otherwise(0.0)
            .alias("v"),
        )
    )
    pairs = spark.createDataFrame(
        _SHAP_PAIRS, "cbit long, t long, tc long, wnum long"
    )
    names = spark.createDataFrame(
        [(n, b) for n, b in _SHAP_CHANNELS], "channel string, cbit long"
    )
    vt = vtab.select(F.col("t").alias("t"), F.col("v").alias("v_t"))
    vc = vtab.select(F.col("t").alias("tc"), F.col("v").alias("v_tc"))
    terms = (
        pairs.join(F.broadcast(names), "cbit")
        .join(F.broadcast(vt), "t")
        .join(F.broadcast(vc), "tc")
        .select(
            "channel",
            F.round(
                (F.col("v_tc") - F.col("v_t")) * F.col("wnum") / 24, 12
            )
            .cast("decimal(20,12)")
            .alias("term"),
        )
    )
    return terms.groupBy("channel").agg(
        F.sum("term").cast("double").alias("shapley_value")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves: cumulative value by signup cohort and age
# ---------------------------------------------------------------------------


@query(
    "events_cohort_ltv",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    weekly AS (
      SELECT c.cohort,
             CAST(date_diff('day', c.cohort,
                            CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS age_weeks,
             CAST(SUM(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS rev_cents
      FROM events e JOIN cohorts c USING (user_id)
      GROUP BY c.cohort, 2
    ),
    sized AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM cohorts GROUP BY cohort
    )
    SELECT m.cohort, m.age_weeks, s.cohort_users,
           CAST(SUM(m.rev_cents) OVER (PARTITION BY m.cohort
                                       ORDER BY m.age_weeks) AS BIGINT)
             AS cum_rev_cents,
           CAST(SUM(m.rev_cents) OVER (PARTITION BY m.cohort
                                       ORDER BY m.age_weeks) AS DOUBLE)
             / s.cohort_users AS ltv_cents_per_user
    FROM weekly m JOIN sized s USING (cohort)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVES (the growth-analytics staple): users grouped
    by first-seen month, purchase revenue accumulated by cohort age,
    normalized per cohort member — the table behind every 'LTV by
    cohort' chart and payback-period estimate. Integer-cent running
    sums (the window is a per-cohort cumulative over the monthly
    AGGREGATE, exact in both engines), one division per row for the
    per-user curve.

    Scale shape: the cohort map is one per-user min; revenue rolls up
    map-side to (cohort, age) before any window; cohort sizes
    broadcast. Complements events_cohort_retention (headcount decay)
    with the value dimension."""
    e = t(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    weekly = (
        e.join(cohorts, "user_id")
        .groupBy(
            "cohort",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort"),
                )
                / 7
            )
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + 0.5).cast("long"),
                ).otherwise(0)
            ).alias("rev_cents")
        )
    )
    sized = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    w = Window.partitionBy("cohort").orderBy("age_weeks")
    return (
        weekly.join(F.broadcast(sized), "cohort")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
        .select(
            "cohort",
            "age_weeks",
            "cohort_users",
            "cum_rev_cents",
            (
                F.col("cum_rev_cents").cast("double") / F.col("cohort_users")
            ).alias("ltv_cents_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival with right-censoring
# ---------------------------------------------------------------------------


@query(
    "events_kaplan_meier",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                  AS BIGINT) AS t,
             CAST(MAX(CAST(ts AS DATE)) < DATE '2024-12-01' AS INT) AS churned
      FROM events GROUP BY user_id
    ),
    times AS (
      SELECT t,
             CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM spans GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST((SELECT COUNT(*) FROM spans) AS BIGINT)
               - CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_at_risk
      FROM times
    ),
    terms AS (
      SELECT t, d, n_at_risk,
             CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk) * 1000000)
                  AS BIGINT) AS logterm_unats
      FROM risk WHERE d > 0 AND d < n_at_risk
    )
    SELECT t, d, n_at_risk,
           round(exp(CAST(SUM(logterm_unats) OVER (ORDER BY t) AS DOUBLE)
                     / 1000000), 9) AS survival
    FROM terms
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival estimator with right-censoring: each
    user's lifetime runs from first to last event; users still active
    in the final observed month are CENSORED (they leave the risk set
    without counting as churn — ignoring censoring is the classic
    retention-analysis bias). S(t) multiplies (1 - d_t/n_t) over event
    times; computed in log space with per-term integer micro-nats so
    the running product is an EXACT integer cumulative sum (one
    exp + 9 dp rounding per output row — the portable form of a
    cumulative product).

    Scale shape: per-user span rollup, then all work happens on the
    |distinct lifetimes| aggregate (window over dimension-sized
    data)."""
    e = t(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        )
        .cast("long")
        .alias("t"),
        (F.max(F.col("ts").cast("date")) < F.lit("2024-12-01").cast("date"))
        .cast("int")
        .alias("churned"),
    )
    times = spans.groupBy("t").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    n_total = spans.count()
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = times.withColumn(
        "n_at_risk",
        F.lit(n_total) - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    terms = risk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk"))
    ).withColumn(
        "logterm_unats",
        F.round(
            F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")) * 1000000
        ).cast("long"),
    )
    w_cum = Window.orderBy("t")
    return terms.select(
        "t",
        "d",
        "n_at_risk",
        F.round(
            F.exp(F.sum("logterm_unats").over(w_cum).cast("double") / 1000000), 9
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction for experiments
# ---------------------------------------------------------------------------


@query(
    "events_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM per_user
    )
    SELECT n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
           CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
             AS var_y,
           (CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * n))
             * (1.0 - (CAST(n * sxy - sx * sy AS DOUBLE)
                       * CAST(n * sxy - sx * sy AS DOUBLE))
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)))
             AS var_y_cuped,
           (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS variance_reduction
    FROM m
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013 — the
    experimentation-platform staple): each user's PRE-period value
    (before March 2024) becomes the control covariate for their
    post-period metric; theta = cov(X,Y)/var(X) gives the adjusted
    metric Y - theta*(X - mean X) whose variance shrinks by exactly
    rho^2 — reported here as theta, raw and adjusted metric variance,
    and the realized reduction (= squared correlation). Smaller
    variance means the same experiment detects effects with fewer
    users — the cheapest sensitivity win an A/B platform ships.
    Everything derives from one pass of exact integer moments; every
    output is a fixed-order chain over them.

    Completes the experimentation stack: assignment (z-test), variance
    reduction (here), quasi-experiments (DiD, matching), uncertainty
    (bootstrap, conformal)."""
    e = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0)).alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    var_y = vy / (F.col("n").cast("double") * F.col("n"))
    rho2 = (cxy * cxy) / (vx * vy)
    return m.select(
        "n",
        (cxy / vx).alias("theta"),
        var_y.alias("var_y"),
        (var_y * (F.lit(1.0) - rho2)).alias("var_y_cuped"),
        rho2.alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Process mining: transition durations and CUSUM change-point scan
# ---------------------------------------------------------------------------


@query(
    "events_process_durations",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER w AS to_type,
             lead(epoch_ms(ts)) OVER w - epoch_ms(ts) AS dur_ms
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT from_type, to_type,
           COUNT(*) AS n_transitions,
           CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
           CAST(SUM(dur_ms) AS DOUBLE) / COUNT(*) AS mean_ms,
           CAST(MAX(dur_ms) AS BIGINT) AS max_ms
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def events_process_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS MINING bottleneck table: every consecutive activity
    pair in each user's event log with transition count and duration
    statistics — the directly-follows graph with timing that process-
    mining tools build from ERP logs to find where cases stall
    (complements events_markov_transitions, which has probabilities
    but no durations). Durations are exact integer milliseconds; the
    mean is one division.

    Scale shape: one lead() window on the per-user partition, one
    |activity|^2-group rollup."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        (F.lead(ms).over(w) - ms).alias("dur_ms"),
    ).filter(F.col("to_type").isNotNull())
    return seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("dur_ms").alias("total_ms"),
        (F.sum("dur_ms").cast("double") / F.count(F.lit(1))).alias("mean_ms"),
        F.max("dur_ms").alias("max_ms"),
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    cusum AS (
      -- integer CUSUM scaled by k: k*cum(n) - i*total is exact and
      -- proportional to cum(n - mean)
      SELECT day, n,
             CAST(t.k * SUM(n) OVER (ORDER BY day)
                  - row_number() OVER (ORDER BY day) * t.s AS BIGINT)
               AS cusum_scaled
      FROM daily, tot t
    )
    SELECT day, n, cusum_scaled,
           CAST(CASE WHEN abs(cusum_scaled) =
                  (SELECT MAX(abs(cusum_scaled)) FROM cusum)
                THEN 1 ELSE 0 END AS INT) AS is_changepoint
    FROM cusum
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT scan over the daily error-count series: the
    cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely level-shift day — the classic
    single-change-point estimator behind 'when did the error rate
    actually change'. Scaling the statistic by the day count keeps it
    EXACT integer (k*cum - i*total == k * cum(n - mean)); the argmax
    marks the candidate change point.

    Scale shape: one date-keyed rollup of the pruned scan, then
    windows over the |days| series only."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n").alias("s")
    )
    w = Window.orderBy("day")
    cusum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum_scaled",
            (
                F.col("k") * F.sum("n").over(w)
                - F.row_number().over(w) * F.col("s")
            ).cast("long"),
        )
        .select("day", "n", "cusum_scaled")
    )
    peak = cusum.agg(F.max(F.abs("cusum_scaled")).alias("peak"))
    return cusum.crossJoin(F.broadcast(peak)).select(
        "day",
        "n",
        "cusum_scaled",
        (F.abs("cusum_scaled") == F.col("peak")).cast("int").alias(
            "is_changepoint"
        ),
    )


@query(
    "events_segmented_regression",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    cusum AS (
      SELECT day, n,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(t.k * SUM(n) OVER (ORDER BY day)
                  - row_number() OVER (ORDER BY day) * t.s AS BIGINT)
               AS cusum_scaled
      FROM daily, tot t
    ),
    bp AS (
      SELECT MIN(i) AS break_i FROM cusum
      WHERE abs(cusum_scaled) = (SELECT MAX(abs(cusum_scaled)) FROM cusum)
    ),
    seg AS (
      SELECT CAST(c.i > b.break_i AS INT) AS after_break, c.i AS x, c.n AS y
      FROM cusum c, bp b
    ),
    fits AS (
      SELECT after_break,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
               / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
               AS slope,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean_level
      FROM seg GROUP BY after_break
    )
    SELECT after_break, n_days, slope, mean_level FROM fits
    """,
)
def events_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED (interrupted-time-series) regression: the CUSUM scan's
    own argmax day (events_cusum_changepoint) splits the daily error
    series, and each segment gets an exact-moment OLS trend plus its
    mean level — slope/level changes across the break quantify the
    regime shift that CUSUM only locates. Breakpoint selection,
    moments, and the per-segment fits are all exact integer
    arithmetic; slopes are single divisions.

    Scale shape: everything after the daily rollup operates on the
    |days| series."""
    e = t(spark, sf_dir, "events")
    # round-9 (guide §1.2): `daily` feeds the totals AND the CUSUM
    # scan; `cusum` feeds peak, breakpoint and segment builds — the
    # events scan re-ran six times. Lazy checkpoints of the two
    # |days|-row panels: one scan.
    daily = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(F.count(F.lit(1)).alias("k"), F.sum("n").alias("s"))
    w = Window.orderBy("day")
    cusum = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.row_number().over(w).cast("long").alias("i"),
        (
            F.col("k") * F.sum("n").over(w)
            - F.row_number().over(w) * F.col("s")
        )
        .cast("long")
        .alias("cusum_scaled"),
    ).localCheckpoint(eager=False)
    peak = cusum.agg(F.max(F.abs("cusum_scaled")).alias("peak"))
    bp = (
        cusum.crossJoin(F.broadcast(peak))
        .filter(F.abs("cusum_scaled") == F.col("peak"))
        .agg(F.min("i").alias("break_i"))
    )
    seg = cusum.crossJoin(F.broadcast(bp)).select(
        (F.col("i") > F.col("break_i")).cast("int").alias("after_break"),
        F.col("i").alias("x"),
        F.col("n").alias("y"),
    )
    n_ = F.count(F.lit(1))
    slope = (n_ * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).cast(
        "double"
    ) / (n_ * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).cast(
        "double"
    )
    return seg.groupBy("after_break").agg(
        n_.alias("n_days"),
        slope.alias("slope"),
        (F.sum("y").cast("double") / n_).alias("mean_level"),
    )


@query(
    "events_pmi_cooccurrence",
    oracle="""
    WITH sess AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ),
    singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM sess GROUP BY event_type
    ),
    ctx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ctx
            FROM (SELECT DISTINCT user_id, day FROM sess)),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM sess a JOIN sess b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT c.type_a, c.type_b, c.n_ab, sa.n AS n_a, sb.n AS n_b,
           CAST(round(ln(CAST(c.n_ab AS DOUBLE) * x.n_ctx
                         / (CAST(sa.n AS DOUBLE) * sb.n)) * 1000000)
                AS BIGINT) AS pmi_unats
    FROM co c
    JOIN singles sa ON sa.event_type = c.type_a
    JOIN singles sb ON sb.event_type = c.type_b
    CROSS JOIN ctx x
    """,
)
def events_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTWISE MUTUAL INFORMATION between event types co-occurring
    in the same (user, day) context — the shifted-PMI matrix that
    word2vec-style embedding training implicitly factorizes, computed
    explicitly: PMI(a,b) = ln(P(a,b) / P(a)P(b)) over context
    presence. Positive micro-nat values mean the pair co-occurs more
    than independence predicts (the association signal); the counts
    are exact and each PMI is one division + one ln, rounded to
    integer micro-nats.

    Scale shape: context de-dup then a per-context self-join bounded
    by |types| per context (5 here — at a 100 TB vocabulary you'd
    prune singles below a support floor first, the word2vec
    subsampling analogue)."""
    e = t(spark, sf_dir, "events")
    # round-9 (guide §1.2): `sess` feeds the singles rollup, the
    # context count and BOTH self-join sides — the events scan +
    # distinct re-ran four times. Lazy localCheckpoint of the deduped
    # (user, day, type) working set: one pass.
    sess = e.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct().localCheckpoint(eager=False)
    singles = sess.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    n_ctx = sess.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_ctx")
    )
    a = sess.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = sess.select("user_id", "day", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        co.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_ctx))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double") * F.col("n_ctx")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_unats"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast backtest, WoW change report, maximum drawdown
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_naive_backtest",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    joined AS (
      SELECT a.h, a.n AS actual, b.n AS forecast
      FROM hourly a JOIN hourly b ON b.h = a.h - INTERVAL 168 HOUR
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(abs(actual - forecast)) AS BIGINT) AS total_abs_err,
           CAST(SUM(actual) AS BIGINT) AS total_actual,
           CAST(round(CAST(SUM(abs(actual - forecast)) AS DOUBLE) * 1000000
                      / SUM(actual)) AS BIGINT) AS wape_ppm
    FROM joined
    """,
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST of the seasonal-naive baseline (predict each
    hour with the same hour one week earlier — the baseline every
    fancier model must beat): hourly actual vs lag-168h forecast,
    scored by WAPE (weighted absolute percentage error — integer-exact
    numerator and denominator, unlike MAPE which explodes on
    near-zero hours). If a model can't beat this number, it isn't a
    model. All errors are exact integer counts; WAPE is one rounded
    division.

    Scale shape: the hourly rollup is the only fact pass; the
    forecast join is a self-equi-join on the |hours| series."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = hourly.select(F.col("h"), F.col("n").alias("actual"))
    b = hourly.select(
        (F.col("h") + F.expr("INTERVAL 168 HOURS")).alias("h"),
        F.col("n").alias("forecast"),
    )
    joined = a.join(b, "h")
    abs_err = F.abs(F.col("actual") - F.col("forecast"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(abs_err).alias("total_abs_err"),
        F.sum("actual").alias("total_actual"),
        F.round(
            F.sum(abs_err).cast("double") * 1000000 / F.sum("actual")
        )
        .cast("long")
        .alias("wape_ppm"),
    )


@query(
    "events_wow_change_report",
    oracle="""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT week, event_type, n,
           lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
           CAST(CASE WHEN lag(n) OVER (PARTITION BY event_type ORDER BY week)
                          IS NOT NULL
                     THEN round((CAST(n AS DOUBLE)
                                 / lag(n) OVER (PARTITION BY event_type
                                                ORDER BY week) - 1.0) * 1000000)
                END AS BIGINT) AS wow_change_ppm
    FROM weekly
    """,
)
def events_wow_change_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEK-OVER-WEEK change report per event type — the standard BI
    movement table, with the first week's change NULL rather than a
    fake zero (the NULL-guard that separates a correct report from a
    misleading one). Changes are integer ppm of the exact count ratio.

    Scale shape: one weekly rollup, one lag window per type over the
    |weeks| series."""
    e = t(spark, sf_dir, "events")
    weekly = e.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "week",
        "event_type",
        "n",
        prev.alias("prev_n"),
        F.when(
            prev.isNotNull(),
            F.round((F.col("n").cast("double") / prev - 1.0) * 1000000),
        )
        .cast("long")
        .alias("wow_change_ppm"),
    )


@query(
    "events_max_drawdown",
    oracle="""
    WITH flows AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS delta
      FROM events
    ),
    balances AS (
      SELECT user_id, ts, event_id,
             SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
      FROM flows
    ),
    equity AS (
      SELECT user_id, balance,
             MAX(balance) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM balances
    )
    SELECT user_id,
           CAST(MAX(peak) AS BIGINT) AS peak_cents,
           CAST(MAX(peak - balance) AS BIGINT) AS max_drawdown_cents,
           CAST(MIN(balance) AS BIGINT) AS min_balance_cents
    FROM equity GROUP BY user_id
    """,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN per user: purchases debit and other events
    credit a running balance, and the drawdown is the largest drop
    from any running PEAK to a later trough — the risk metric that a
    simple min/max pair cannot express because it is order-dependent
    (peak must precede trough). Computed as max over time of
    (running-max(balance) - balance): one cumulative-sum window plus a
    cumulative-max OVER it, all exact integer cents.

    Scale shape: two stacked windows on the same user partitioning,
    then a per-user rollup."""
    e = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    delta = F.when(F.col("event_type") == "purchase", -cents).otherwise(cents)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    equity = e.select(
        "user_id", "ts", "event_id", delta.alias("delta")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.sum("delta").over(w).alias("balance"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = equity.withColumn("peak", F.max("balance").over(w2))
    return staged.groupBy("user_id").agg(
        F.max("peak").alias("peak_cents"),
        F.max(F.col("peak") - F.col("balance")).alias("max_drawdown_cents"),
        F.min("balance").alias("min_balance_cents"),
    )


@query(
    "events_stl_lite_decomposition",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(isodow(ts) AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    trended AS (
      SELECT day, dow, n,
             CAST(SUM(n) OVER (ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS win_sum,
             CAST(COUNT(*) OVER (ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS win_n
      FROM daily
    ),
    detrended AS (
      SELECT *,
             CAST(round((n - CAST(win_sum AS DOUBLE) / win_n) * 1000) AS BIGINT)
               AS detrend_milli
      FROM trended
    ),
    dow_effect AS (
      SELECT dow,
             CAST(round(CAST(SUM(detrend_milli) AS DOUBLE) / COUNT(*))
                  AS BIGINT) AS dow_milli
      FROM detrended GROUP BY dow
    )
    SELECT d.day, d.dow, d.n,
           CAST(round(CAST(d.win_sum AS DOUBLE) * 1000 / d.win_n) AS BIGINT)
             AS trend_milli,
           e.dow_milli,
           CAST(d.n * 1000
                - CAST(round(CAST(d.win_sum AS DOUBLE) * 1000 / d.win_n)
                       AS BIGINT)
                - e.dow_milli AS BIGINT) AS resid_milli
    FROM detrended d JOIN dow_effect e USING (dow)
    """,
)
def events_stl_lite_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-LITE decomposition of the daily event series into TREND
    (centered 7-day moving average, shrinking window at the edges) +
    DAY-OF-WEEK effect (mean detrended value per weekday) + RESIDUAL —
    the first-cut seasonal decomposition behind every 'is Monday
    really down, or is that just the trend' question, and the input
    the anomaly queries would consume at scale. Components are integer
    milli-counts: trend and weekday effects each round ONE division,
    and the residual is exact arithmetic on those integers, so the
    three components re-add to n*1000 exactly.

    Scale shape: a day-keyed rollup, one 7-row window over the |days|
    series, a 7-group weekday mean."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("day"),
        (F.weekday("ts") + 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn("win_sum", F.sum("n").over(w)).withColumn(
        "win_n", F.count(F.lit(1)).over(w)
    )
    trend_milli = F.round(
        F.col("win_sum").cast("double") * 1000 / F.col("win_n")
    ).cast("long")
    detrended = trended.withColumn(
        "detrend_milli",
        F.round(
            (F.col("n") - F.col("win_sum").cast("double") / F.col("win_n"))
            * 1000
        ).cast("long"),
    )
    dow_effect = detrended.groupBy("dow").agg(
        F.round(
            F.sum("detrend_milli").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("dow_milli")
    )
    return (
        detrended.join(F.broadcast(dow_effect), "dow")
        .select(
            "day",
            "dow",
            "n",
            trend_milli.alias("trend_milli"),
            "dow_milli",
            (F.col("n") * 1000 - trend_milli - F.col("dow_milli")).alias(
                "resid_milli"
            ),
        )
    )


@query(
    "events_sprt_monitor",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY 1
    ),
    llr AS (
      -- H0: p = 0.18 vs H1: p = 0.22; per-day increment in micro-nats
      SELECT day, n, conv,
             conv * CAST(round(ln(0.22 / 0.18) * 1000000) AS BIGINT)
             + (n - conv) * CAST(round(ln(0.78 / 0.82) * 1000000) AS BIGINT)
               AS inc_unats
      FROM daily
    ),
    walk AS (
      SELECT day, n, conv,
             CAST(SUM(inc_unats) OVER (ORDER BY day) AS BIGINT) AS llr_unats
      FROM llr
    )
    SELECT day, n, conv, llr_unats,
           CAST(CASE WHEN llr_unats >= CAST(round(ln(19.0) * 1000000) AS BIGINT)
                     THEN 1
                WHEN llr_unats <= -CAST(round(ln(19.0) * 1000000) AS BIGINT)
                     THEN -1
                ELSE 0 END AS INT) AS decision
    FROM walk
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD'S SPRT (sequential probability ratio test) monitoring the
    daily purchase rate: the cumulative log-likelihood ratio of
    H1: p=0.22 against H0: p=0.18 walks day by day, and the test
    concludes the moment it crosses +/- ln(19) (alpha=beta=0.05) —
    the always-valid sequential alternative to fixed-horizon tests
    that lets an experiment stop EARLY without p-hacking (peeking at
    a fixed-horizon z-test inflates false positives; the SPRT boundary
    is designed for continuous peeking). Each day's increment is two
    integer multiples of once-rounded micro-nat log ratios, so the
    walk is an exact integer cumulative sum.

    Scale shape: daily rollup, then a window over the |days| series."""
    e = t(spark, sf_dir, "events")
    import math

    la = int(round(math.log(0.22 / 0.18) * 1000000))
    lb = int(round(math.log(0.78 / 0.82) * 1000000))
    bound = int(round(math.log(19.0) * 1000000))
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    w = Window.orderBy("day")
    walk = daily.withColumn(
        "llr_unats",
        F.sum(
            F.col("conv") * F.lit(la) + (F.col("n") - F.col("conv")) * F.lit(lb)
        ).over(w),
    )
    return walk.select(
        "day",
        "n",
        "conv",
        "llr_unats",
        F.when(F.col("llr_unats") >= bound, 1)
        .when(F.col("llr_unats") <= -bound, -1)
        .otherwise(0)
        .cast("int")
        .alias("decision"),
    )


@query(
    "events_capture_recapture",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-08'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    ),
    m AS (
      SELECT CAST((SELECT COUNT(*) FROM w1) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM w2) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM w1 JOIN w2 USING (user_id)) AS BIGINT)
               AS m12
    )
    SELECT n1, n2, m12,
           CAST((n1 * n2) // m12 AS BIGINT) AS lincoln_petersen_estimate,
           CAST(((n1 + 1) * (n2 + 1)) // (m12 + 1) - 1 AS BIGINT)
             AS chapman_estimate
    FROM m
    """,
)
def events_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE population estimation (Lincoln-Petersen and
    the bias-corrected Chapman form): the users 'captured' in week 1
    and week 2 overlap in m individuals, so the total population —
    including users never observed at all — estimates as n1*n2/m.
    The ecology estimator, used in data work to size what you CANNOT
    see: total dedup-cluster count from two sampling passes, true
    error population from two reviewers, coverage of a crawler from
    two crawls. All integer arithmetic (floor division on both
    engines).

    Scale shape: two date-pruned distinct sets and one semi-join."""
    e = t(spark, sf_dir, "events")
    w1 = (
        e.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .select("user_id")
        .distinct()
    )
    w2 = (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .select("user_id")
        .distinct()
    )
    n1 = w1.count()
    n2 = w2.count()
    m12 = w1.join(w2, "user_id").count()
    return spark.createDataFrame(
        [
            (
                n1,
                n2,
                m12,
                (n1 * n2) // m12,
                ((n1 + 1) * (n2 + 1)) // (m12 + 1) - 1,
            )
        ],
        "n1 long, n2 long, m12 long, lincoln_petersen_estimate long, "
        "chapman_estimate long",
    )


# ---------------------------------------------------------------------------
# Interval (range) join via time-grain bucketing — the equi-join
# rewrite that keeps a timestamp-containment join off the O(N·M) path.
# ---------------------------------------------------------------------------


@query(
    "events_interval_join",
    oracle="""
    WITH win AS (
      SELECT event_id AS window_id, ts AS ws,
             ts + INTERVAL 10 MINUTE AS we,
             epoch_ms(ts) // 600000 AS g0
      FROM events WHERE event_type = 'error'
    ),
    wg AS (
      SELECT window_id, ws, we, unnest([g0, g0 + 1]) AS g FROM win
    ),
    eg AS (
      SELECT ts, event_type, value, epoch_ms(ts) // 600000 AS g
      FROM events
    ),
    j AS (
      SELECT w.window_id, e.event_type, e.value
      FROM wg w JOIN eg e
        ON w.g = e.g AND e.ts >= w.ws AND e.ts < w.we
    )
    SELECT window_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM j GROUP BY window_id
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL JOIN by time-grain bucketing: every error event opens a
    10-minute incident window; which events fall inside any window?
    The naive form is a range-predicate theta join (O(events×windows)
    — Spark would emit BroadcastNestedLoopJoin). Instead both sides
    key by a 10-minute grain (windows explode to their ≤2 covering
    grains, events to exactly one), the join becomes an EQUI-join on
    the grain, and the containment predicate only verifies in-bucket
    candidates. Grain width == window width bounds the fan-out at 2
    and guarantees each (window, event) pair meets in exactly one
    grain — no post-join dedup.

    Scale shape: one shuffle per side on the grain key; candidate
    volume is |windows|·(2·grain density), independent of total span.
    The same rewrite handles any bounded-width interval join (session
    attribution, maintenance windows, outage blame)."""
    ev = t(spark, sf_dir, "events")
    grain = lambda c: F.floor(F.unix_millis(c) / 600000).cast("long")
    win = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("ws"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("we"),
        grain(F.col("ts")).alias("g0"),
    )
    wg = win.select(
        "window_id",
        "ws",
        "we",
        F.explode(F.array(F.col("g0"), F.col("g0") + 1)).alias("g"),
    )
    eg = ev.select(
        "ts", "event_type", "value", grain(F.col("ts")).alias("g")
    )
    j = wg.join(
        eg,
        (wg.g == eg.g) & (eg.ts >= wg.ws) & (eg.ts < wg.we),
    )
    return j.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("value_cents"),
    )


@query(
    "events_holt_forecast",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    dd AS MATERIALIZED (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    fold AS (
      SELECT event_type, rn, CAST(y * 1000 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS b
      FROM dd WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn,
             CAST(floor((d.y * 1000 + f.l + f.b) / 2.0) AS BIGINT) AS l,
             CAST(floor((floor((d.y * 1000 + f.l + f.b) / 2.0) - f.l + f.b)
                        / 2.0) AS BIGINT) AS b
      FROM fold f JOIN dd d ON d.event_type = f.event_type AND d.rn = f.rn + 1
    ),
    fin AS (SELECT event_type, MAX(rn) AS n_days FROM dd GROUP BY 1)
    SELECT f.event_type,
           CAST(fin.n_days AS BIGINT) AS n_days,
           f.l AS level_milli,
           f.b AS trend_milli,
           f.l + 7 * f.b AS forecast7_milli
    FROM fold f JOIN fin ON fin.event_type = f.event_type AND f.rn = fin.n_days
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasting (double exponential smoothing,
    alpha = beta = 1/2) over the per-type daily series, in EXACT
    integer milli-units: each smoothing step is one floor-halving of
    integer state, so the sequential recurrence is bit-portable (the
    EWMA lesson — a sequential fold is deterministic only when both
    engines evaluate the same fold order on the same integers). Spark
    folds the sorted day array per group with a codegen-side
    ``aggregate`` (array sizes = days-per-type — bounded metadata, not
    event volume); the oracle replays the identical recurrence as a
    recursive CTE. Level+trend extrapolation gives the 7-day-ahead
    forecast; compare events_seasonal_naive_backtest for the
    season-aware rival."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    grouped = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n_days"),
    )

    def step(acc, x):
        y_milli = x["y"].cast("long") * 1000
        new_l = F.floor((y_milli + acc["l"] + acc["b"]) / 2).cast("long")
        new_b = F.floor((new_l - acc["l"] + acc["b"]) / 2).cast("long")
        return F.when(
            acc["l"] < 0,
            F.struct(y_milli.alias("l"), F.lit(0).cast("long").alias("b")),
        ).otherwise(F.struct(new_l.alias("l"), new_b.alias("b")))

    init = F.struct(
        F.lit(-1).cast("long").alias("l"), F.lit(0).cast("long").alias("b")
    )
    return grouped.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.aggregate(F.col("a"), init, step).alias("st"),
    ).select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        (F.col("st.l") + 7 * F.col("st.b")).alias("forecast7_milli"),
    )


@query(
    "events_debounce",
    oracle="""
    WITH RECURSIVE ev AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    ),
    fold AS (
      SELECT user_id, rn, us AS last_us, CAST(1 AS BIGINT) AS n_kept,
             event_id AS chk, n_events
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN e.us >= f.last_us + 21600000000
                  THEN e.us ELSE f.last_us END,
             f.n_kept + CASE WHEN e.us >= f.last_us + 21600000000
                             THEN 1 ELSE 0 END,
             f.chk + CASE WHEN e.us >= f.last_us + 21600000000
                          THEN e.event_id ELSE 0 END,
             e.n_events
      FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events, n_kept,
           CAST(chk AS BIGINT) AS kept_checksum
    FROM fold WHERE rn = n_events
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY debounce/throttling: per user, an event is kept only if
    at least 6 hours have passed since the last KEPT event — the
    rate-limit semantics of alerting and notification systems. Unlike
    a lag()-gap filter (which compares to the previous RAW event,
    keeping bursts that trail a kept one), the greedy rule is a
    sequential recurrence, so it folds the per-user sorted event array
    with exact integer microsecond state (the Holt/EWMA determinism
    rule). The oracle replays the identical recurrence recursively.

    Scale shape: one shuffle on user_id; the fold is array-local per
    user, bounded by per-user activity, and the kept-set checksum
    certifies the SELECTION, not just its size."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "event_id"))).alias("a"),
        F.count(F.lit(1)).alias("n_events"),
    )
    gap = 21_600_000_000  # 6 h in microseconds

    def step(acc, x):
        keep = x["us"] >= acc["last_us"] + gap
        return F.struct(
            F.when(keep, x["us"]).otherwise(acc["last_us"]).alias("last_us"),
            (acc["n_kept"] + F.when(keep, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            (acc["chk"] + F.when(keep, x["event_id"]).otherwise(0))
            .cast("long")
            .alias("chk"),
        )

    # the first event is always kept: seed last_us far in the past
    init = F.struct(
        F.lit(-(1 << 62)).cast("long").alias("last_us"),
        F.lit(0).cast("long").alias("n_kept"),
        F.lit(0).cast("long").alias("chk"),
    )
    return grouped.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.aggregate(F.col("a"), init, step).alias("st"),
    ).select(
        "user_id",
        "n_events",
        F.col("st.n_kept").alias("n_kept"),
        F.col("st.chk").alias("kept_checksum"),
    )


@query(
    "events_local_hour_report",
    oracle=f"""
    SELECT CAST(EXTRACT(hour FROM ts + INTERVAL 7 HOUR) AS INTEGER)
             AS local_hour,
           COUNT(*) AS n_events,
           {SQL_DSUM('value', 'total_value')}
    FROM events
    GROUP BY 1
    """,
)
def events_local_hour_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-normalized reporting: event timestamps (stored UTC, the
    engine's pinned session zone) converted to Asia/Ho_Chi_Minh local
    time through the REAL timezone API (``convert_timezone`` — IANA
    zone rules, not offset arithmetic) before the hour-of-day rollup —
    the report the reference's Vietnamese dashboards implicitly assume
    (coffee_etl_clean/dashboard.py renders created-date stats in local
    time). The oracle uses +07:00 arithmetic, valid because Vietnam
    has observed a constant UTC+7 with no DST since 1975 — so any
    divergence means the engine's zone database, not the query, is
    wrong (the dim_date_tet_holidays pinning trick applied to zones)."""
    local_ts = F.convert_timezone(
        F.lit("UTC"), F.lit("Asia/Ho_Chi_Minh"), F.col("ts")
    )
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.hour(local_ts).alias("local_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
    )


@query(
    "events_gap_fill_lerp",
    oracle="""
    WITH sparse AS (
      SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(floor(value * 1000 + 0.5) AS BIGINT) END AS vm
      FROM events
    ),
    ctx AS (
      SELECT user_id, vm,
             last_value(vm IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN vm IS NOT NULL THEN ms END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
             first_value(vm IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN vm IS NOT NULL THEN ms END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx,
             ms
      FROM sparse
    ),
    lerped AS (
      SELECT user_id, vm,
             CASE WHEN vm IS NOT NULL THEN NULL
                  WHEN pv IS NULL OR nv IS NULL THEN NULL
                  WHEN nx > px
                    THEN CAST(floor(CAST(pv * (nx - ms) + nv * (ms - px)
                                         AS DOUBLE) / (nx - px)) AS BIGINT)
                  ELSE pv END AS fill
      FROM ctx
    )
    SELECT user_id,
           COUNT(*) AS n_readings,
           CAST(SUM(CASE WHEN vm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           CAST(SUM(CASE WHEN fill IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lerped,
           CAST(COALESCE(SUM(fill), 0) AS BIGINT) AS lerp_checksum
    FROM lerped GROUP BY user_id
    """,
)
def events_gap_fill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap repair — the numeric upgrade of LOCF
    (events_gap_fill_locf): the same deterministic 20% dropout, but
    each gap takes the time-weighted average of its surrounding
    readings, computed in EXACT integer milli-value × milli-second
    arithmetic (one floor division per gap — products stay under 2^52,
    so the double path is exact on both engines; equal-timestamp
    neighbors fall back to the previous value to dodge the zero-width
    segment). Boundary gaps with no neighbor on one side stay NULL.

    Scale shape: two frame-native IGNORE NULLS window passes over the
    standard per-user ordering — the partitioning every per-user
    operator shares; no self-join, no spine densification needed."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.unix_millis("ts").alias("ms"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
        ).alias("vm"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ms_if = F.when(F.col("vm").isNotNull(), F.col("ms"))
    ctx = ev.select(
        "user_id",
        "vm",
        "ms",
        F.last("vm", ignorenulls=True).over(back).alias("pv"),
        F.last(ms_if, ignorenulls=True).over(back).alias("px"),
        F.first("vm", ignorenulls=True).over(fwd).alias("nv"),
        F.first(ms_if, ignorenulls=True).over(fwd).alias("nx"),
    )
    lerp = (
        F.floor(
            (
                F.col("pv") * (F.col("nx") - F.col("ms"))
                + F.col("nv") * (F.col("ms") - F.col("px"))
            ).cast("double")
            / (F.col("nx") - F.col("px"))
        )
    ).cast("long")
    fill = (
        F.when(F.col("vm").isNotNull(), F.lit(None).cast("long"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None).cast("long"))
        .when(F.col("nx") > F.col("px"), lerp)
        .otherwise(F.col("pv"))
    )
    out = ctx.withColumn("fill", fill)
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum(F.when(F.col("vm").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_gaps"),
        F.sum(F.when(F.col("fill").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_lerped"),
        F.coalesce(F.sum("fill"), F.lit(0)).cast("long").alias("lerp_checksum"),
    )


@query(
    "events_viterbi_decode",
    oracle="""
    WITH RECURSIVE ev AS MATERIALIZED (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events,
             ascii(substr(event_type, 1, 1)) % 50 AS ea,
             (ascii(substr(event_type, 1, 1)) * 7) % 50 AS eb
      FROM events
    ),
    fold AS (
      SELECT user_id, rn, n_events,
             CAST(ea AS BIGINT) AS sa, CAST(eb AS BIGINT) AS sb
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.n_events,
             least(f.sa + 5, f.sb + 20) + e.ea,
             least(f.sa + 20, f.sb + 5) + e.eb
      FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           least(sa, sb) AS best_cost,
           CASE WHEN sa <= sb THEN 'A' ELSE 'B' END AS best_state
    FROM fold WHERE rn = n_events
    """,
)
def events_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VITERBI DECODING — in-engine HMM inference: per user, the
    min-cost hidden-state path over the event sequence for a fixed
    2-state model (sticky transitions 5/20, emission costs derived
    from the event type), tracked as the classic two-register dynamic
    program. All costs are integers, so the sequential DP folds the
    per-user sorted event array exactly like the Holt/debounce family
    and the oracle replays it recursively. This is the shape of
    segmentation models (session intent, bot-vs-human, sensor regime
    detection) run AS A QUERY: one shuffle on user_id, per-user state
    = two integers regardless of sequence length."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.struct("ts", "event_id", "event_type").alias("s")
    )
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("a"),
        F.count(F.lit(1)).alias("n_events"),
    )

    def em_a(x):
        return (F.ascii(F.substring(x["event_type"], 1, 1)) % 50).cast("long")

    def em_b(x):
        return ((F.ascii(F.substring(x["event_type"], 1, 1)) * 7) % 50).cast(
            "long"
        )

    def step(acc, x):
        first = acc["sa"] < 0
        sa0 = F.when(first, em_a(x)).otherwise(
            F.least(acc["sa"] + 5, acc["sb"] + 20) + em_a(x)
        )
        sb0 = F.when(first, em_b(x)).otherwise(
            F.least(acc["sa"] + 20, acc["sb"] + 5) + em_b(x)
        )
        return F.struct(sa0.alias("sa"), sb0.alias("sb"))

    init = F.struct(
        F.lit(-1).cast("long").alias("sa"), F.lit(-1).cast("long").alias("sb")
    )
    return grouped.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.aggregate(F.col("a"), init, step).alias("st"),
    ).select(
        "user_id",
        "n_events",
        F.least(F.col("st.sa"), F.col("st.sb")).alias("best_cost"),
        F.when(F.col("st.sa") <= F.col("st.sb"), "A")
        .otherwise("B")
        .alias("best_state"),
    )


@query(
    "orders_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%m') AS INTEGER) AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE CAST(strftime(o_orderdate, '%m') AS INTEGER) BETWEEN 4 AND 6
    GROUP BY 1
    """,
)
def orders_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime sibling of
    [[events_partition_pruned_scan]]'s static pruning, and the
    optimization star-schema scans live on at 100 TB: the filter sits
    on the DIMENSION (quarter = 2), not the fact, so no static pruning
    is possible; Catalyst must inject the broadcast dim's month set
    into the fact scan at runtime
    (``dynamicpruningexpression(o_month IN dynamicpruning#N)``), which
    the plan ASSERTS. Without DPP the fact side reads all 12 month
    partitions to join-then-discard 9 of them; with it, a dimension
    predicate prunes a fact lake it never mentions.

    The oracle is the statically-equivalent month-range query over the
    flat fixture — layout and pruning strategy must not change a
    value."""
    o = t(spark, sf_dir, "orders")
    path = run_tmpdir("orders_dpp_") + "/orders"
    o.withColumn("o_month", F.month("o_orderdate")).write.partitionBy(
        "o_month"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(1, 13).select(
        F.col("id").cast("int").alias("m"),
        ((F.col("id") - 1) / 3 + 1).cast("int").alias("q"),
    )
    j = fact.join(F.broadcast(dim), fact["o_month"] == dim["m"]).filter(
        F.col("q") == 2
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), (
        "dimension filter did not trigger DPP:\n" + plan[:800]
    )
    return j.groupBy(F.col("o_month").cast("int").alias("o_month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query(
    "events_stream_stream_full_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           p.ts AS purchase_ts, c.ts AS click_ts,
           CASE WHEN c.event_id IS NULL THEN 'unattributed'
                WHEN p.event_id IS NULL THEN 'unconverted'
                ELSE 'attributed' END AS attribution
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def events_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER stream-stream join, completing the inner/left/full
    attribution family: clickless purchases AND purchase-less clicks
    both surface with nulls on the missing side (the 'unconverted'
    funnel tail a left join drops). Both sides now owe null emissions,
    so BOTH watermarks must pass a row before its null can flush —
    which is why the fixture's heartbeat sentinels (one per side,
    streamed from a symlinked temp dir) matter doubly here, and why
    the sentinel-excluding filter must stay on the SINK side of the
    materialized result (inside the streaming plan it would be pushed
    below EventTimeWatermark and prune the heartbeat at the scan — the
    left-join lesson). State and eviction are identical to the inner
    variant: watermark + the 30-minute range bound let both sides
    expire; full-outer only adds the matched bit per evicted row.

    Oracle: the batch FULL JOIN — bounded replay + heartbeat flush
    make the streaming result equal it exactly."""
    joined = attribution_join(_events_then_heartbeat(spark, sf_dir), "full_outer").select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "purchase_ts",
        "click_ts",
        F.when(F.col("click_id").isNull(), F.lit("unattributed"))
        .when(F.col("purchase_id").isNull(), F.lit("unconverted"))
        .otherwise(F.lit("attributed"))
        .alias("attribution"),
    )
    return drain(joined, "append").filter(F.col("user_id") >= 0)


@query(
    "events_json_corrupt_capture",
    oracle="""
    SELECT CASE WHEN event_id % 17 = 3 THEN 'corrupt' ELSE 'clean' END
             AS record_class,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 17 = 3 THEN 0 ELSE event_id END)
                AS BIGINT) AS id_sum,
           CAST(SUM(CASE WHEN event_id % 17 = 3
                         THEN length(event_type) ELSE 0 END)
                AS BIGINT) AS corrupt_payload_chars
    FROM events
    GROUP BY 1
    """,
)
def events_json_corrupt_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-RECORD CAPTURE on JSON ingestion — the JSON twin of the
    permissive hostile-CSV scan (S1's error-tolerance contract): a
    JSONL export where every 17th record (event_id % 17 = 3) is
    deterministically mangled (truncated mid-object — unparseable)
    must load WITHOUT failing the job, parse every clean record
    intact, and capture each corrupt line verbatim in
    ``_corrupt_record`` for the error zone. PERMISSIVE mode +
    columnNameOfCorruptRecord is the Spark contract; the query proves
    no row is lost (clean + corrupt = all), clean ids are exact, and
    the captured raw text has the expected size — so corruption is
    quarantined, never silently dropped.

    Caveat pinned here: Spark requires the corrupt-record column to be
    selected WITH the data columns from the raw scan (a cache/count of
    only the corrupt column is documented as unsupported); the query
    materializes both together, which is also the error-zone shape.

    Scale shape: line-splittable JSONL scan, per-row parse, one
    aggregate — the permissive path costs nothing extra on clean
    data."""
    import os

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    d = run_tmpdir("json_corrupt_")
    path = os.path.join(d, "events_jsonl")
    # export clean JSONL, then mangle every 17th record: drop the
    # closing brace and trailing fields — guaranteed unparseable
    clean_json = F.to_json(F.struct("event_id", "event_type", "user_id"))
    (
        e.select(
            F.when(
                F.col("event_id") % 17 == 3,
                F.concat(
                    F.lit('{"event_id": '),
                    F.col("event_id").cast("string"),
                    F.lit(', "event_type": "'),
                    F.col("event_type"),
                ),
            )
            .otherwise(clean_json)
            .alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    back = (
        spark.read.schema(
            "event_id long, event_type string, user_id long, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    # materialize the parse before any downstream column pruning: a
    # consumer that prunes to only _bad (e.g. a bare count) would trip
    # Spark's corrupt-column-only restriction on the raw JSON scan
    back = back.localCheckpoint(eager=True)
    classified = back.select(
        F.when(F.col("_bad").isNotNull(), F.lit("corrupt"))
        .otherwise(F.lit("clean"))
        .alias("record_class"),
        F.coalesce(F.col("event_id"), F.lit(0)).alias("event_id_c"),
        F.coalesce(F.length(F.col("_bad")), F.lit(0)).alias("bad_len"),
        F.length(
            F.regexp_extract(F.coalesce(F.col("_bad"), F.lit("")), '"event_id": ([0-9]+)', 1)
        ).alias("id_digits"),
    )
    # corrupt line text = '{"event_id": ' (13) + id digits +
    # ', "event_type": "' (17) + type — report just the event_type
    # characters: total captured minus frame minus the id digits
    return classified.groupBy("record_class").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("record_class") == "clean", F.col("event_id_c")).otherwise(0)).alias("id_sum"),
        F.sum(
            F.when(
                F.col("record_class") == "corrupt",
                F.col("bad_len") - 30 - F.col("id_digits"),
            ).otherwise(0)
        ).alias("corrupt_payload_chars"),
    )


@query(
    "events_holt_winters_forecast",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    dd AS MATERIALIZED (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    fold AS (
      SELECT event_type, rn, CAST(y * 1000 AS BIGINT) AS l,
             CAST(0 AS BIGINT) AS b,
             CAST([0, 0, 0, 0, 0, 0, 0] AS BIGINT[]) AS s
      FROM dd WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, u.new_l, u.new_b,
             list_transform(range(1, 8),
               j -> CASE WHEN j = ((d.rn - 1) % 7) + 1 THEN u.new_s
                         ELSE f.s[j] END)
      FROM fold f
      JOIN dd d ON d.event_type = f.event_type AND d.rn = f.rn + 1
      CROSS JOIN LATERAL (
        SELECT new_l,
               CAST(floor((new_l - f.l + f.b) / 2.0) AS BIGINT) AS new_b,
               CAST(floor((d.y * 1000 - new_l
                           + f.s[((d.rn - 1) % 7) + 1]) / 2.0) AS BIGINT)
                 AS new_s
        FROM (SELECT CAST(floor((d.y * 1000 - f.s[((d.rn - 1) % 7) + 1]
                                 + f.l + f.b) / 2.0) AS BIGINT) AS new_l)
      ) u
    ),
    fin AS (SELECT event_type, MAX(rn) AS n_days FROM dd GROUP BY 1)
    SELECT f.event_type,
           CAST(fin.n_days AS BIGINT) AS n_days,
           f.l AS level_milli,
           f.b AS trend_milli,
           f.s[((fin.n_days - 1) % 7) + 1] AS season_milli,
           f.l + 7 * f.b + f.s[((fin.n_days - 1) % 7) + 1] AS forecast7_milli
    FROM fold f JOIN fin ON fin.event_type = f.event_type AND f.rn = fin.n_days
    """,
)
def events_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple exponential smoothing (level +
    trend + weekly seasonality, alpha = beta = gamma = 1/2) — the
    season-aware extension of [[events_holt_forecast]], in the same
    exact integer milli-units: every smoothing step is a floor-halving
    over integers, and the 7-slot seasonal state rides the fold as an
    integer array updated in place at slot (day-1) mod 7. Seasonals
    init to zero (they converge within two seasons under gamma = 1/2),
    so the whole recurrence is a pure function of the daily counts.
    The 7-day-ahead forecast reads level + 7·trend + the seasonal slot
    of the target weekday. The oracle replays the identical recurrence
    recursively (the seasonal array via list_transform — DuckDB's
    slicing semantics never enter).

    Scale shape: one shuffle to daily counts per type; the fold runs
    on a days-per-type array (bounded metadata) inside codegen
    ``aggregate`` — event volume never touches the sequential path."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    grouped = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n_days"),
    )

    def step(acc, x):
        y = x["y"].cast("long") * 1000
        idx = (acc["t"] % 7) + 1  # 1-based seasonal slot of THIS element
        sold = F.element_at(acc["s"], idx)
        new_l = F.floor((y - sold + acc["l"] + acc["b"]) / 2).cast("long")
        new_b = F.floor((new_l - acc["l"] + acc["b"]) / 2).cast("long")
        new_s = F.floor((y - new_l + sold) / 2).cast("long")
        upd = F.transform(
            F.sequence(F.lit(1), F.lit(7)),
            lambda j: F.when(j == idx, new_s).otherwise(
                F.element_at(acc["s"], j)
            ),
        )
        return F.when(
            acc["t"] == 0,
            F.struct(
                y.alias("l"),
                F.lit(0).cast("long").alias("b"),
                acc["s"].alias("s"),
                (acc["t"] + 1).alias("t"),
            ),
        ).otherwise(
            F.struct(
                new_l.alias("l"),
                new_b.alias("b"),
                upd.alias("s"),
                (acc["t"] + 1).alias("t"),
            )
        )

    init = F.struct(
        F.lit(0).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.array_repeat(F.lit(0).cast("long"), 7).alias("s"),
        F.lit(0).cast("int").alias("t"),
    )
    st = grouped.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.aggregate(F.col("a"), init, step).alias("st"),
    )
    season = F.element_at(
        F.col("st.s"), ((F.col("n_days") - 1) % 7 + 1).cast("int")
    )
    return st.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        season.alias("season_milli"),
        (F.col("st.l") + 7 * F.col("st.b") + season).alias("forecast7_milli"),
    )


@query(
    "events_sprt_sequential_test",
    oracle="""
    WITH daily AS (
      SELECT user_id % 2 AS arm, CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY 1, 2
    ),
    llr AS (
      SELECT arm, day,
             SUM(conv * 191 + (n - conv) * (-51)) OVER (
               PARTITION BY arm ORDER BY day) AS cum_llr,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY day) AS rn
      FROM daily
    ),
    crossed AS (
      SELECT arm, rn, cum_llr,
             CASE WHEN cum_llr >= 2944 THEN 'reject_h0'
                  WHEN cum_llr <= -2944 THEN 'accept_h0' END AS hit
      FROM llr
    ),
    first_hit AS (
      SELECT arm, MIN(rn) AS decision_day FROM crossed
      WHERE hit IS NOT NULL GROUP BY arm
    ),
    final AS (
      SELECT arm, MAX(rn) AS n_days FROM llr GROUP BY arm
    )
    SELECT CAST(f.arm AS INTEGER) AS arm,
           CAST(f.n_days AS BIGINT) AS n_days,
           CAST(COALESCE(fh.decision_day, 0) AS BIGINT) AS decision_day,
           CAST(COALESCE(ch.hit, 'continue') AS VARCHAR) AS decision,
           CAST(lf.cum_llr AS BIGINT) AS final_llr_milli
    FROM final f
    LEFT JOIN first_hit fh ON fh.arm = f.arm
    -- pre-decorrelated (r8 hardening, same class as the r7
    -- customers_correlated_subquery driver skew): crossed/llr are
    -- unique per (arm, rn), so these 1:<=1 LEFT JOINs are exactly the
    -- correlated scalar lookups without exposing any engine's
    -- scalar-subquery decorrelation/typing path
    LEFT JOIN crossed ch ON ch.arm = f.arm AND ch.rn = fh.decision_day
    LEFT JOIN llr lf ON lf.arm = f.arm AND lf.rn = f.n_days
    """,
)
def events_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL A/B TESTING by Wald's SPRT — the early-stopping
    experiment monitor that fixed-horizon tests
    ([[events_ab_conversion_ztest]]) cannot be: each arm's daily purchase
    conversions accumulate a log-likelihood ratio for H1 (p=0.23) vs
    H0 (p=0.19), and the experiment DECIDES the first day the ratio
    crosses ±ln(19) (alpha = beta = 0.05). The log terms are
    precomputed integer milli-nat literals (191 per conversion, -51
    per non-conversion — the charlm lesson: transcendentals become
    shared integer constants, never runtime libm calls), so the
    cumulative LLR is an exact integer running sum and the crossing
    day is deterministic. Output per arm: sample size, decision day
    (0 = never crossed), the decision, and the final LLR.

    Scale shape: one shuffle to per-arm daily counts, one window
    cumulative sum over |days| rows per arm — peeking-proof sequential
    monitoring at any event volume."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("arm").orderBy("day")
    llr = daily.select(
        "arm",
        F.sum(F.col("conv") * 191 + (F.col("n") - F.col("conv")) * (-51))
        .over(w)
        .alias("cum_llr"),
        F.row_number().over(w).alias("rn"),
    )
    crossed = llr.withColumn(
        "hit",
        F.when(F.col("cum_llr") >= 2944, "reject_h0").when(
            F.col("cum_llr") <= -2944, "accept_h0"
        ),
    ).localCheckpoint(eager=True)
    first_hit = (
        crossed.filter(F.col("hit").isNotNull())
        .groupBy("arm")
        .agg(F.min("rn").alias("decision_day"))
    )
    final = crossed.groupBy("arm").agg(F.max("rn").alias("n_days"))
    decision = (
        first_hit.alias("fh")
        .join(
            crossed.select("arm", "rn", "hit").alias("ch"),
            (F.col("fh.decision_day") == F.col("ch.rn"))
            & (F.col("fh.arm") == F.col("ch.arm")),
        )
        .select(F.col("fh.arm").alias("d_arm"), "decision_day", "hit")
    )
    final_llr = crossed.alias("c").join(
        final.alias("f2"),
        (F.col("c.arm") == F.col("f2.arm")) & (F.col("c.rn") == F.col("f2.n_days")),
    ).select(F.col("c.arm").alias("l_arm"), F.col("c.cum_llr").alias("final_llr_milli"))
    return (
        final.join(decision, final["arm"] == decision["d_arm"], "left")
        .join(final_llr, final["arm"] == final_llr["l_arm"])
        .select(
            final["arm"].cast("int").alias("arm"),
            F.col("n_days").cast("long").alias("n_days"),
            F.coalesce(F.col("decision_day"), F.lit(0)).cast("long").alias(
                "decision_day"
            ),
            F.coalesce(F.col("hit"), F.lit("continue")).alias("decision"),
            "final_llr_milli",
        )
    )


def _online_logreg_oracle_sql(n_batches: int) -> str:
    """Unrolled ONLINE gradient descent: batch i = customers with
    custkey % n == i, updated with the weights left by batch i-1."""
    selects = [
        f"SELECT CAST({r - 1} AS BIGINT) AS batch_id, w0, w1, w2 FROM it{r}"
        for r in range(1, n_batches + 1)
    ]
    steps = gd_steps_sql(
        n_batches, divisor=8, step_filter=lambda i: f"f.batch = {i}"
    )
    return (
        f"WITH {features_sql(f'o_custkey % {n_batches} AS batch')},\n    {steps}\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


@query("orders_streaming_online_logreg", oracle=_online_logreg_oracle_sql(5))
def orders_streaming_online_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE LEARNING inside Structured Streaming — the trainer suite
    meets the streaming engine: the customer feature table is split
    into five numbered parquet files, streamed one file per trigger
    (maxFilesPerTrigger=1 under AvailableNow), and ``foreachBatch``
    takes ONE hard-sigmoid gradient step per micro-batch, carrying the
    integer micro-unit weight vector across batches in driver state —
    exactly how a production streaming scorer warm-updates a model as
    data lands. The full weight TRAJECTORY (after each of the five
    batches) is on the hash, so batch ordering, batch composition, and
    every update must all be exact; the oracle unrolls the same five
    sequential updates over the same modulo partition.

    Scale shape: each step is one aggregate over one micro-batch; the
    model is 3 integers of driver state (checkpointable alongside the
    stream for restart-safe training)."""
    import os

    feats = customer_features(
        spark, sf_dir, (F.col("o_custkey") % 5).cast("int").alias("batch")
    )
    d = run_tmpdir("online_lr_")
    src_dir = os.path.join(d, "stream")
    os.makedirs(src_dir)
    for i in range(5):  # sequential writes -> increasing mtimes
        feats.filter(F.col("batch") == i).coalesce(1).write.parquet(
            os.path.join(src_dir, f"b{i}")
        )
    schema = "o_custkey long, x1 long, x2 long, y int, batch int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    state = {"w": [0, 0, 0], "rows": []}

    def train_batch(bdf, batch_id):
        w, g = gd_step(bdf, state["w"], F.min("batch").alias("b"), divisor=8)
        state["w"] = w
        state["rows"].append((int(g["b"]), *w))

    q = (
        stream.writeStream.foreachBatch(train_batch)
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        state["rows"], "batch_id long, w0 long, w1 long, w2 long"
    )


@query(
    "events_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    sizes AS (
      SELECT SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n2
      FROM s
    ),
    cdf AS (
      SELECT v,
             SUM(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END))
               OVER (ORDER BY v) AS c1,
             SUM(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END))
               OVER (ORDER BY v) AS c2
      FROM s GROUP BY v
    ),
    diffs AS (
      SELECT v, ABS(c1 * z.n2 - c2 * z.n1) AS d, z.n1, z.n2
      FROM cdf CROSS JOIN sizes z
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(MAX(d) AS BIGINT) AS ks_numerator,
           CAST(n1 * n2 AS BIGINT) AS ks_denominator,
           CAST(MIN(CASE WHEN d = (SELECT MAX(d) FROM diffs) THEN v END)
                AS BIGINT) AS argmax_value_cents
    FROM diffs GROUP BY n1, n2
    """,
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV statistic — the distribution-drift
    test PSI ([[events_psi_drift]]) approximates with bins, computed
    EXACTLY: both empirical CDFs evaluate at every pooled distinct
    value (cent-quantized), and the sup-distance compares as the
    integer cross-product ``|c1·n2 - c2·n1|`` — no division until the
    caller wants the ratio, so the max and its arg (smallest attaining
    value) are exact. D = ks_numerator / ks_denominator.

    Scale shape: one groupBy to distinct values with two conditional
    counts, one ordered window for the CDFs (|distinct values| rows),
    one max — the same shape at any event volume."""
    s = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
        )
    )
    from pyspark.sql import Window as W

    per_v = s.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("a1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("a2"),
    )
    cdf = per_v.select(
        "v",
        F.sum("a1").over(W.orderBy("v")).alias("c1"),
        F.sum("a2").over(W.orderBy("v")).alias("c2"),
    )
    sizes = s.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n2"),
    )
    diffs = cdf.crossJoin(F.broadcast(sizes)).select(
        "v",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias("d"),
    ).localCheckpoint(eager=True)
    mx = diffs.agg(F.max("d").alias("mx"))
    return (
        diffs.crossJoin(F.broadcast(mx))
        .groupBy("n1", "n2")
        .agg(
            F.max("d").alias("ks_numerator"),
            F.min(F.when(F.col("d") == F.col("mx"), F.col("v"))).alias(
                "argmax_value_cents"
            ),
        )
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("ks_numerator").cast("long").alias("ks_numerator"),
            (F.col("n1") * F.col("n2")).cast("long").alias("ks_denominator"),
            F.col("argmax_value_cents").cast("long").alias("argmax_value_cents"),
        )
    )


@query(
    "events_streaming_dedup_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                    >= 1800000
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, cents,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end_bound,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS session_cents
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_streaming_dedup_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL STREAMING OPERATORS — watermark-bounded dedup
    feeding session windows in ONE streaming query, append mode: every
    event is delivered twice (at-least-once), `dropDuplicates
    WithinWatermark` drops the copies with expiring state, and the
    SAME watermark propagates through to the downstream
    ``session_window`` aggregate, whose sessions emit only once the
    watermark proves them closed. Multi-stateful-operator chaining
    (Spark 3.4+) is the restricted surface this exercises — before it,
    dedup-then-window required two queries and an intermediate sink.
    The bounded fixture flushes its tail sessions with the far-future
    heartbeat sentinel (streamed from a symlinked dir; filtered on the
    SINK side — inside the plan the filter would be pushed below
    EventTimeWatermark and prune the heartbeat, the stream-stream-join
    lesson). Result equals the batch sessionization of the
    SINGLE-delivery table, integer cents exactly.

    Scale shape: two stateful exchanges (event_id for dedup, user_id
    for sessions), both with watermark-expiring state."""
    src = _events_then_heartbeat(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    duplicated = src.select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("_c"),
        "event_id",
        "user_id",
        "ts",
        "cents",
    ).drop("_c")
    deduped = duplicated.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sessions = (
        deduped.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("session_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_bound"),
            "n_events",
            "session_cents",
        )
    )
    return drain(sessions, "append").filter(F.col("user_id") >= 0)


@query(
    "events_streaming_late_drop",
    oracle="""
    WITH cutoff AS (
      SELECT (epoch_ms(MIN(ts)) + epoch_ms(MAX(ts))) // 2 AS c_ms
      FROM events
    )
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events CROSS JOIN cutoff
    WHERE epoch_ms(ts) >= cutoff.c_ms
    GROUP BY 1, 2
    """,
)
def events_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA DROPPING made deterministic and value-checked: the
    event history splits at its midpoint into a RECENT file (delivered
    first, plus a far-future heartbeat) and an OLD file (delivered
    second). One file per trigger means the watermark is already past
    every old row when the second batch arrives, so the windowed
    aggregate must drop ALL of it — the core watermark contract
    (bounded state requires discarding provably-late data) usually
    only observable in metrics, here pinned by value: the streamed
    result equals the batch aggregate of the recent half alone. If the
    engine buffered or leaked even one late row into a window, a count
    would differ.

    Scale shape: standard watermarked tumbling-window aggregate; the
    two-file drain is the fixture's way of forcing a watermark/arrival
    race that production streams hit continuously."""
    import calendar

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the cutoff needs the data's range, so this collect stays
    mm = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    # integer-exact midpoint: Python timedelta/2 and SQL interval/2
    # round differently at odd microseconds — the boundary must be the
    # same integer millisecond on both engines
    to_ms = lambda dt_: calendar.timegm(dt_.timetuple()) * 1000 + dt_.microsecond // 1000
    cutoff_ms = (to_ms(mm["lo"]) + to_ms(mm["hi"])) // 2
    after_cutoff = F.unix_millis(F.col("ts").cast("timestamp")) >= cutoff_ms
    # recent + heartbeat -> spacer -> old. The spacer batch absorbs the
    # engine's one-batch watermark lag (see docstring) so the old file
    # meets an already-advanced watermark.
    src = staged_replay(
        spark,
        [
            ev.filter(after_cutoff).unionByName(
                heartbeats(spark, (FAR_FUTURE, "view"))
            ),
            heartbeats(spark, (FAR_FUTURE + datetime.timedelta(hours=1), "view")),
            ev.filter(~after_cutoff),
        ],
    ).select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    # the grouping keeps user_id available for the heartbeat filter
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # NOT availableNow: an available-now drain plans its whole backlog
    # against one watermark snapshot, so late rows in later planned
    # batches are never filtered (measured; companion to the one-batch
    # lag above). A default-trigger drain advances the watermark
    # between micro-batches, which is the semantics this query pins.
    return (
        drain(agg, "append", available_now=False)
        .filter(F.col("user_id") >= 0)
        .groupBy(
            F.col("window.start").alias("window_start"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"))
    )


@query(
    "events_frequent_sequences",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             list_transform(
               list_sort(list_zip(list(ts), list(event_id), list(event_type))),
               z -> z[3]) AS evs
      FROM events GROUP BY user_id
    ),
    grams AS (
      SELECT user_id,
             unnest(list_transform(range(1, len(evs) - 1),
               i -> evs[i] || \'>\' || evs[i + 1] || \'>\' || evs[i + 2]))
               AS pattern
      FROM seqs WHERE len(evs) >= 3
    ),
    stats AS (
      SELECT pattern,
             COUNT(DISTINCT user_id) AS support,
             COUNT(*) AS n_occurrences
      FROM grams GROUP BY pattern
    )
    SELECT pattern, CAST(support AS BIGINT) AS support,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT pattern, support, n_occurrences,
                 ROW_NUMBER() OVER (ORDER BY support DESC, pattern) AS rk
          FROM stats)
    WHERE rk <= 10
    """,
)
def events_frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING: the top contiguous length-3 behavior
    sequences across user histories — extending pairwise transition
    analysis to path patterns (view>view>click vs view>click>purchase
    tell different product stories). Each user\'s ordered event-type
    array yields its contiguous 3-grams inside one codegen
    ``transform(sequence(...))`` (no positional self-join); SUPPORT
    counts users exhibiting the pattern (the sequence-mining
    convention) alongside raw occurrences; top-10 under a total order.
    (Session-scoped mining was probed first and found degenerate —
    sessions here average ~1 event, every 3-gram had support 1; the
    degeneracy audit moved the unit to user histories.)

    Scale shape: one shuffle to per-user arrays, one map-side-combined
    pattern count over |patterns| rows, TakeOrdered(10)."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda z: z["event_type"],
        ).alias("evs")
    )
    grams = (
        seqs.filter(F.size("evs") >= 3)
        .select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("evs") - 3),
                    lambda i: F.concat_ws(
                        ">",
                        F.col("evs")[i],
                        F.col("evs")[i + 1],
                        F.col("evs")[i + 2],
                    ),
                )
            ).alias("pattern"),
        )
    )
    stats = grams.groupBy("pattern").agg(
        F.countDistinct("user_id").alias("support"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return (
        stats.withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.desc("support"), F.asc("pattern"))
            ),
        )
        .filter(F.col("rk") <= 10)
        .select(
            "pattern",
            F.col("support").cast("long"),
            F.col("n_occurrences").cast("long"),
            F.col("rk").cast("int"),
        )
    )


@query(
    "events_chain_ladder",
    oracle="""
    WITH base AS (
      SELECT (SELECT MIN(epoch_ms(ts) // 604800000) FROM events) AS w0
    ),
    cells0 AS (
      SELECT user_id % 4 AS cohort,
             (epoch_ms(ts) // 604800000) - b.w0 AS wk
      FROM events CROSS JOIN base b
    ),
    cells AS (
      SELECT cohort, wk - cohort AS dev, COUNT(*) AS n
      FROM cells0 WHERE wk >= cohort
      GROUP BY cohort, wk - cohort
    ),
    grid AS (
      SELECT c.cohort, d.dev,
             CAST(COALESCE(SUM(x.n), 0) AS BIGINT) AS inc
      FROM (SELECT DISTINCT cohort FROM cells) c
      CROSS JOIN (SELECT unnest(range(0, 5)) AS dev) d
      LEFT JOIN cells x ON x.cohort = c.cohort AND x.dev = d.dev
      GROUP BY c.cohort, d.dev
    ),
    cum AS (
      SELECT cohort, dev,
             SUM(inc) OVER (PARTITION BY cohort ORDER BY dev) AS c
      FROM grid
    ),
    -- pre-decorrelated (r8 hardening, same class as the r7
    -- customers_correlated_subquery driver skew): the per-dev factor
    -- is a plain GROUP BY, and the final SELECT reads the three
    -- factors from a pivoted ONE-ROW cross join instead of repeated
    -- scalar subqueries — a dev with no complete cohort pair pivots
    -- to NULL exactly as the empty correlated SUM did
    f AS (
      SELECT c1.dev AS fd,
             SUM(c2.c) * 1000000 // SUM(c1.c) AS f_micro
      FROM cum c1 JOIN cum c2
        ON c2.cohort = c1.cohort AND c2.dev = c1.dev + 1
      WHERE c1.cohort + c1.dev + 1 <= 4
      GROUP BY c1.dev
    ),
    fp AS (
      SELECT MAX(CASE WHEN fd = 1 THEN f_micro END) AS f1,
             MAX(CASE WHEN fd = 2 THEN f_micro END) AS f2,
             MAX(CASE WHEN fd = 3 THEN f_micro END) AS f3
      FROM f
    ),
    latest AS (
      SELECT cohort, 4 - cohort AS observed_dev, CAST(c AS BIGINT) AS latest_cum
      FROM cum WHERE dev = 4 - cohort
    )
    SELECT l.cohort,
           CAST(l.observed_dev AS BIGINT) AS observed_dev,
           l.latest_cum,
           CAST(CASE l.cohort
             WHEN 0 THEN l.latest_cum
             WHEN 1 THEN l.latest_cum * fp.f3 // 1000000
             WHEN 2 THEN (l.latest_cum * fp.f2 // 1000000) * fp.f3
                         // 1000000
             ELSE ((l.latest_cum * fp.f1 // 1000000) * fp.f2
                   // 1000000) * fp.f3 // 1000000
           END AS BIGINT) AS ultimate,
           CAST(CASE l.cohort
             WHEN 0 THEN 0
             WHEN 1 THEN l.latest_cum * fp.f3 // 1000000 - l.latest_cum
             WHEN 2 THEN (l.latest_cum * fp.f2 // 1000000) * fp.f3
                         // 1000000 - l.latest_cum
             ELSE ((l.latest_cum * fp.f1 // 1000000) * fp.f2
                   // 1000000) * fp.f3 // 1000000 - l.latest_cum
           END AS BIGINT) AS ibnr
    FROM latest l, fp
    """,
)
def events_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAIN-LADDER development projection (the actuarial reserving
    workhorse, Mack 1993) on user-activity cohort triangles: four
    weekly onboarding waves (deterministic ``user_id % 4`` offsets —
    the fixture has a single natural cohort, so waves are synthesized
    and documented) accumulate activity by development week; later
    cohorts are TRUNCATED at the observation cutoff, volume-weighted
    development factors ``f_d = sum C[*,d+1] / sum C[*,d]`` come from
    the complete pairs only, and each truncated cohort's ULTIMATE is
    its latest diagonal times the remaining factor chain (sequential
    micro-floored products — both engines multiply in the same order).
    IBNR = ultimate - observed, the quantity reserving exists to
    estimate. The same math projects any cohort-maturation process:
    claims, repayment, retention, LTV.

    Scale shape: one shuffle to (cohort, dev) cells, window cumsum
    over a 4x5 grid, scalar factor aggregates — triangle size is
    calendar-bounded metadata, never data-bounded."""
    ev = t(spark, sf_dir, "events")
    w0 = ev.agg(
        F.min(F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / 604800000))
    ).collect()[0][0]
    cells = (
        ev.select(
            (F.col("user_id") % 4).alias("cohort"),
            (
                F.floor(
                    F.unix_millis(F.col("ts").cast("timestamp")) / 604800000
                )
                - F.lit(w0)
            ).alias("wk"),
        )
        .filter(F.col("wk") >= F.col("cohort"))
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("dev"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = (
        cells.select("cohort")
        .distinct()
        .crossJoin(
            F.broadcast(
                t(spark, sf_dir, "events")
                .sparkSession.range(0, 5)
                .select(F.col("id").alias("dev"))
            )
        )
        .join(cells, ["cohort", "dev"], "left")
        .select("cohort", "dev", F.coalesce(F.col("n"), F.lit(0)).alias("inc"))
    )
    from pyspark.sql import Window as W

    cum = grid.select(
        "cohort",
        "dev",
        F.sum("inc").over(W.partitionBy("cohort").orderBy("dev")).alias("c"),
    ).localCheckpoint(eager=True)
    facs = {}
    for d in range(4):
        pair = (
            cum.alias("c1")
            .join(
                cum.alias("c2"),
                (F.col("c2.cohort") == F.col("c1.cohort"))
                & (F.col("c2.dev") == F.col("c1.dev") + 1),
            )
            .filter(
                (F.col("c1.dev") == d)
                & (F.col("c1.cohort") + F.col("c1.dev") + 1 <= 4)
            )
            .agg(
                F.expr("sum(c2.c) * 1000000 div sum(c1.c)").alias("f")
            )
            .collect()[0]["f"]
        )
        facs[d] = int(pair)
    latest = cum.filter(F.col("dev") == 4 - F.col("cohort")).select(
        "cohort",
        (4 - F.col("cohort")).cast("long").alias("observed_dev"),
        F.col("c").alias("latest_cum"),
    )
    rows = latest.collect()
    out = []
    for r in rows:
        c = int(r["cohort"])
        u = int(r["latest_cum"])
        for d in range(4 - c, 4):
            u = u * facs[d] // 1000000
        out.append(
            (c, int(r["observed_dev"]), int(r["latest_cum"]), u, u - int(r["latest_cum"]))
        )
    return spark.createDataFrame(
        out,
        "cohort long, observed_dev long, latest_cum long, ultimate long, ibnr long",
    )


@query(
    "events_dynamic_session_gaps",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS tms,
             epoch_ms(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 3600000 ELSE 600000 END AS endms,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events
    ),
    m AS (
      SELECT *, MAX(endms) OVER (PARTITION BY user_id ORDER BY tms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM e
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_end IS NULL OR tms >= prev_end
                     THEN 1 ELSE 0 END AS new_s
      FROM m
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(tms) AS BIGINT) AS session_start_ms,
           CAST(MAX(endms) AS BIGINT) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_p) AS BIGINT) AS n_purchases
    FROM sess GROUP BY user_id, sid
    """,
)
def events_dynamic_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP SESSION WINDOWS — the Spark 3.2+ surface where the
    inactivity gap is a PER-ROW expression (here: a purchase keeps the
    session alive for an hour, anything else for ten minutes — the
    "intent extends the session" rule real funnels use). Semantics are
    interval-union merging, NOT simple lag gaps: each event spans
    [ts, ts+gap) and overlapping spans merge, so one long-gap event can
    bridge short-gap events that plain lag-sessionization
    ([[events_sessionization]]) would split. The oracle replays exactly
    that with a running MAX of span ends over preceding rows (new
    session iff ts >= every earlier end — the half-open boundary), in
    integer epoch-milliseconds on both engines so boundary ties are
    exact.

    Scale shape: one shuffle on user_id; the engine's session merge and
    the rollup share it. Streaming twin: the same expression under a
    watermark."""
    ev = t(spark, sf_dir, "events")
    # dynamic gaps must evaluate to CalendarIntervalType: string
    # literals (not INTERVAL expressions, which parse as DayTime)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_purchases"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
            "n_purchases",
        )
    )


@query(
    "events_ab_srm_check",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5('srm:' || user_id), 1, 8)
                       AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
      SELECT SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS b
      FROM assigned
    )
    SELECT CAST(a AS BIGINT) AS n_a, CAST(b AS BIGINT) AS n_b,
           CAST(((a - b) * (a - b) * 1000000) // (a + b) AS BIGINT)
             AS chi2_micro,
           CAST(CASE WHEN ((a - b) * (a - b) * 1000000) // (a + b)
                          > 3841459 THEN 1 ELSE 0 END AS INTEGER)
             AS srm_flag
    FROM counts
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH — the first gate every experimentation
    platform runs before reading a single metric: users hash into A/B
    at 50/50 (nonlinear md5 assignment — the [[events_hll_distinct]]
    affine-hash lesson; a linear hash on dense ids would stripe the
    arms), and the 1-df chi-square against the expected equal split
    reduces to ``(a-b)²/(a+b)`` — computed here in exact integer
    micro-units with one floored division, flagged against the 95%
    critical value 3.841459. A healthy randomizer leaves the flag 0;
    any assignment bug (filtered traffic, crash loops in one arm)
    trips it before a biased readout ships.

    Scale shape: distinct users is the one shuffle; the chi-square is
    two counters. The statistic composes with
    [[events_ab_conversion_ztest]]'s metric comparison — SRM first, metrics
    second, the operational ordering."""
    ev = t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("srm:"), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    counts = users.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("b"),
    )
    return counts.select(
        F.col("a").cast("long").alias("n_a"),
        F.col("b").cast("long").alias("n_b"),
        F.expr("((a - b) * (a - b) * 1000000) div (a + b)")
        .cast("long")
        .alias("chi2_micro"),
        F.when(
            F.expr("((a - b) * (a - b) * 1000000) div (a + b)") > 3841459, 1
        )
        .otherwise(0)
        .cast("int")
        .alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# HLL set operations: union by register max, intersection by
# inclusion-exclusion — the sketch algebra a metrics platform uses for
# "how many users did BOTH" without rescanning either side.
# ---------------------------------------------------------------------------


def _hll_setop_oracle() -> str:
    from ..operators.sketch import hll_constants

    m = 64
    _, k_max, scaled_alpha = hll_constants(m)
    rank = _hll_rank_sql(m, k_max)

    def est(regs: str) -> str:
        s = (
            f"(SELECT COALESCE(SUM(CAST(power(2, {k_max} - mr) AS BIGINT)), 0)"
            f" + ({m} - COUNT(*)) * {1 << k_max} FROM {regs})"
        )
        return f"CAST(floor({scaled_alpha!r} / {s}) AS BIGINT)"

    def regs(vals: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT hv % {m} AS b, MAX({rank}) AS mr
      FROM (SELECT {_HLL_HASH_SQL.format(col='v')} AS hv FROM {vals})
      GROUP BY b
    )"""

    return (
        f"""
    WITH a_vals AS (
      SELECT DISTINCT user_id AS v FROM events WHERE event_type = 'view'
    ),
    b_vals AS (
      SELECT DISTINCT user_id AS v FROM events WHERE event_type = 'purchase'
    ),"""
        + regs("a_vals", "a_regs")
        + ","
        + regs("b_vals", "b_regs")
        + f""",
    u_regs AS (
      SELECT COALESCE(a.b, b.b) AS b,
             greatest(COALESCE(a.mr, 0), COALESCE(b.mr, 0)) AS mr
      FROM a_regs a FULL JOIN b_regs b ON a.b = b.b
    )
    SELECT CAST({m} AS INTEGER) AS m,
           {est('a_regs')} AS est_a,
           {est('b_regs')} AS est_b,
           {est('u_regs')} AS est_union,
           {est('a_regs')} + {est('b_regs')} - {est('u_regs')}
             AS est_intersection,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a_vals) AS exact_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b_vals) AS exact_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a_vals
            WHERE v IN (SELECT v FROM b_vals)) AS exact_intersection
    """
    )


@query("events_hll_set_operations", oracle=_hll_setop_oracle())
def events_hll_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA over the portable sketch
    ([[events_hll_distinct]]'s register layout): the union of two
    sketches is the register-wise MAX (exact — the union sketch is
    BIT-IDENTICAL to sketching A∪B directly, HLL's defining mergeable
    property), and |A∩B| follows by inclusion-exclusion
    est_a + est_b − est_union — the standard sketch-algebra answer to
    "how many users VIEWED and also PURCHASED" without a join of the
    raw sides. The intersection estimate is signed (inclusion-
    exclusion over three estimators can undershoot 0 on small/disjoint
    sets) and lands beside the three exact counts, so the estimator's
    error at this register budget is part of the result.

    Scale shape: each side is one groupBy onto ≤64 integer registers
    (map-side combined max); the union is a 64-row full join; exact
    audit legs are one distinct + one semi-join (they drop in the
    sample-free production form). The per-side distinct user set is
    materialized ONCE (eager localCheckpoint — user-dimension-bounded)
    and feeds its register build, both estimate legs, and the exact
    audits, so raw events are scanned once per side. Registers and the
    estimate come from the SHARED ``operators.sketch`` helpers — the
    mergeability claim against [[events_hll_distinct]] holds because
    both queries build registers through the same function."""
    from ..operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )

    m = 64
    e = t(spark, sf_dir, "events")

    def side(etype: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .select(F.col("user_id").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    a_vals, b_vals = side("view"), side("purchase")
    ra, rb = hll_registers(a_vals, "v", m), hll_registers(b_vals, "v", m)
    ru = (
        ra.withColumnRenamed("_m", "ma")
        .join(rb.withColumnRenamed("_m", "mb"), "_b", "full_outer")
        .select(
            "_b",
            F.greatest(
                F.coalesce(F.col("ma"), F.lit(0)),
                F.coalesce(F.col("mb"), F.lit(0)),
            ).alias("_m"),
        )
    )

    def est(regs_df: DataFrame, name: str) -> DataFrame:
        return hll_estimate_from_registers(regs_df, m, name)

    exacts = (
        a_vals.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
        .crossJoin(b_vals.agg(F.count(F.lit(1)).cast("long").alias("exact_b")))
        .crossJoin(
            a_vals.join(b_vals, "v", "left_semi").agg(
                F.count(F.lit(1)).cast("long").alias("exact_intersection")
            )
        )
    )
    return (
        est(ra, "est_a")
        .crossJoin(F.broadcast(est(rb, "est_b")))
        .crossJoin(F.broadcast(est(ru, "est_union")))
        .crossJoin(F.broadcast(exacts))
        .select(
            F.lit(m).cast("int").alias("m"),
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_intersection"),
            "exact_a",
            "exact_b",
            "exact_intersection",
        )
    )


# ---------------------------------------------------------------------------
# Stream-maintained HLL state: the cardinality sketch living in the
# checkpointed state store, provably equal to the batch sketch
# ---------------------------------------------------------------------------


def _hll_state_oracle() -> str:
    from ..operators.sketch import hll_constants

    m = 64
    _, k_max, scaled_alpha = hll_constants(m)
    s_scaled = (
        f"SUM(CAST(power(2, {k_max} - mreg) AS BIGINT))"
        f" + ({m} - COUNT(*)) * {1 << k_max}"
    )
    return f"""
    WITH c AS (
      SELECT event_type, {_HLL_HASH_SQL.format(col="user_id")} AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, hv % {m} AS b,
             MAX({_hll_rank_sql(m, k_max)}) AS mreg
      FROM c GROUP BY event_type, b
    ),
    ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen
           FROM c GROUP BY event_type)
    SELECT r.event_type,
           CAST({m} AS INTEGER) AS m,
           CAST({m} - COUNT(*) AS INTEGER) AS n_empty,
           CAST({s_scaled} AS BIGINT) AS s_scaled,
           CAST(floor({scaled_alpha!r} / ({s_scaled})) AS BIGINT)
             AS n_estimate,
           MAX(ex.n_seen) AS n_seen
    FROM regs r JOIN ex ON ex.event_type = r.event_type
    GROUP BY r.event_type
    """


@query("events_streaming_hll_state", oracle=_hll_state_oracle())
def events_streaming_hll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CARDINALITY SKETCH AS STREAMING STATE — the HLL companion
    to [[events_streaming_kll_state]]: per event_type, the 64-register
    table lives in the checkpointed state store
    (``applyInPandasWithState``), each micro-batch max-merges its
    rows' (register, rank) pairs into it, and the emitted summary is
    [[events_hll_distinct]]'s exact column set plus the cumulative row
    count. Register max is associative/commutative/idempotent, so the
    state after ANY batching — restarts, replays, reordered files —
    is BIT-EQUAL to the single-pass batch sketch, and the ORACLE IS
    THE BATCH SKETCH (full-strength hash equality, not a rows-only
    check): distinct users per event_type, the streaming form of the
    per-group cardinality panel a metrics platform maintains.

    State per key: 64 small ints — constant regardless of stream
    length or key cardinality, the bound that lets this run forever at
    100 TB/day. Rank arithmetic reuses ``operators.sketch``'s
    constants; the estimate is the same single double division."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sketch import hll_hash

    src = (
        replay(spark, sf_dir, "events")
        # NULL contract, pinned on BOTH sides (oracle filters the same
        # way): a NULL user_id contributes nothing — neither a register
        # nor a phantom seen-bucket. Without the filter the batch
        # sketch counts the NULL hash as a seen group (shifting n_empty
        # and s_scaled) while the state fn skips it — divergent on the
        # first NULL row.
        .filter(F.col("user_id").isNotNull())
        .select("event_type", hll_hash(F.col("user_id")).alias("hv"))
    )
    totals = src.groupBy("event_type").applyInPandasWithState(
        _hll_state_fn,
        "event_type string, m int, n_empty int, s_scaled long, "
        "n_estimate long, n_seen long",
        "regs array<int>, n_seen long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return last_update(drain(totals, "update"), "event_type", "n_seen")


def _hll_state_fn(key, pdfs, state):
    """State-update function for the streaming HLL (module level so
    tests drive it through their own stream wiring): max-merge each
    batch's (register, rank) pairs, emit the key's full sketch
    summary. Rank/estimate arithmetic mirrors operators.sketch
    (hll_registers / hll_distinct_estimate) exactly."""
    import math

    import pandas as pd

    from ..operators.sketch import hll_constants

    m = 64
    _, k_max, scaled_alpha = hll_constants(m)
    if state.exists:
        regs, n_seen = state.get
        regs = list(regs)
    else:
        regs, n_seen = [0] * m, 0
    for pdf in pdfs:
        n_seen += len(pdf)
        for hv in pdf["hv"].tolist():
            # NULL user_id: degrade like the batch sketch (a NULL hash
            # never lands a register). Arrow->pandas renders a nullable
            # long column as None (object) or NaN (float64) — skip both.
            if hv is None or hv != hv:
                continue
            hv = int(hv)
            w = hv // m
            rank = k_max if w == 0 else k_max - w.bit_length()
            b = hv % m
            if rank > regs[b]:
                regs[b] = rank
    state.update((regs, n_seen))
    s_scaled = sum(1 << (k_max - r) for r in regs)
    n_empty = sum(1 for r in regs if r == 0)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "m": [m],
            "n_empty": [n_empty],
            "s_scaled": [s_scaled],
            "n_estimate": [math.floor(scaled_alpha / s_scaled)],
            "n_seen": [n_seen],
        }
    )


# ---------------------------------------------------------------------------
# State-TTL eviction: the watermark-driven timeout that BOUNDS the
# state store — the mechanism that lets a stateful stream run forever.
# ---------------------------------------------------------------------------

_TTL_DAYS = 30


def _ttl_state_fn(key, pdfs, state):
    """Per-user running totals with an event-time TTL: every data
    batch advances the timeout to last_ts + TTL; when the watermark
    passes it, the key times out — the state's totals are EMITTED as
    the closed record and the state is REMOVED (the store shrinks).
    Nothing is emitted on ordinary updates, so the query's entire
    output is eviction-driven."""
    import pandas as pd

    ttl_ms = _TTL_DAYS * 86400 * 1000
    if state.hasTimedOut:
        first_ms, last_ms, n, cents = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
                "first_ms": [first_ms],
                "last_ms": [last_ms],
            }
        )
        return
    if state.exists:
        first_ms, last_ms, n, cents = state.get
    else:
        first_ms, last_ms, n, cents = None, None, 0, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        cents += int(pdf["cents"].sum())
        lo, hi = int(pdf["us"].min()), int(pdf["us"].max())
        first_ms = lo if first_ms is None else min(first_ms, lo)
        last_ms = hi if last_ms is None else max(last_ms, hi)
    state.update((first_ms, last_ms, n, cents))
    state.setTimeoutTimestamp(last_ms + ttl_ms)
    return
    yield  # pragma: no cover - generator form required by the API


@query(
    "events_streaming_state_ttl",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MIN(epoch_ms(ts)) AS BIGINT) AS first_ms,
           CAST(MAX(epoch_ms(ts)) AS BIGINT) AS last_ms
    FROM events GROUP BY user_id
    """,
)
def events_streaming_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-TTL EVICTION — the missing half of every stateful-stream
    story ([[events_stateful_user_totals]] keeps per-user state with
    ``GroupStateTimeout.NoTimeout``; its own docstring says "at web
    scale add a TTL timeout to bound the store"; this query IS that
    bound). Per-user totals live in ``applyInPandasWithState`` with an
    EVENT-TIME timeout of last-activity + 30 days: when the watermark
    passes it, the key is evicted — its totals emit as the CLOSED
    record and the state slot is freed. The entire output is
    eviction-driven (updates emit nothing), so the value check proves
    the full eviction path: every user's closed record must equal the
    batch aggregate of their events — totals survive arbitrary
    batching, eviction fires exactly once per key, and nothing is
    emitted early or lost.

    Delivery schedule (the [[events_streaming_late_drop]] discipline:
    one file per trigger, mtime-pinned order, default trigger so the
    watermark advances BETWEEN micro-batches, spacer batch absorbing
    the engine's one-batch watermark lag): b0 = the full history →
    state opens for every user; b1 = a far-future sentinel pushing the
    watermark past every user's last_ts + TTL; b2 = a second sentinel
    whose batch processes the now-expired timers → every key evicts.

    Scale shape: state per key is four longs, and the TTL guarantees
    the store's size tracks the ACTIVE key set, not the ever-seen key
    set — the difference between a stream that runs forever and one
    that OOMs on key churn. Timeout timestamps ride the same
    watermark the aggregate already maintains; no second clock."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = staged_replay(
        spark,
        [
            f"{sf_dir}/events.parquet",
            heartbeats(spark, (FAR_FUTURE, "view")),
            heartbeats(spark, (FAR_FUTURE + datetime.timedelta(hours=1), "view")),
        ],
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    closed = (
        src.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ttl_state_fn,
            "user_id long, n_events long, total_cents long, "
            "first_ms long, last_ms long",
            "first_ms long, last_ms long, n long, cents long",
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain(closed, "update", available_now=False).filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# Autocorrelation function (ACF) of the hourly arrival-count series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 5

_ACF_ORACLE = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT c,
             {", ".join(f"lag(c, {k}) OVER (ORDER BY h) AS y{k}" for k in range(1, _ACF_MAX_LAG + 1))}
      FROM hourly
    ),
    m AS (
      SELECT {", ".join(
        f"CAST(COUNT(y{k}) AS BIGINT) AS n{k}, "
        f"CAST(SUM(c) FILTER (WHERE y{k} IS NOT NULL) AS BIGINT) AS sx{k}, "
        f"CAST(SUM(y{k}) AS BIGINT) AS sy{k}, "
        f"CAST(SUM(c * c) FILTER (WHERE y{k} IS NOT NULL) AS BIGINT) AS sxx{k}, "
        f"CAST(SUM(y{k} * y{k}) AS BIGINT) AS syy{k}, "
        f"CAST(SUM(c * y{k}) AS BIGINT) AS sxy{k}"
        for k in range(1, _ACF_MAX_LAG + 1))}
      FROM lagged
    )
    {" UNION ALL ".join(
      f'''SELECT CAST({k} AS INT) AS lag_hours,
             n{k} AS n_pairs,
             (CAST(n{k} AS DOUBLE) * CAST(sxy{k} AS DOUBLE)
                - CAST(sx{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))
             / NULLIF(sqrt(
                 (CAST(n{k} AS DOUBLE) * CAST(sxx{k} AS DOUBLE)
                    - CAST(sx{k} AS DOUBLE) * CAST(sx{k} AS DOUBLE))
                 * (CAST(n{k} AS DOUBLE) * CAST(syy{k} AS DOUBLE)
                    - CAST(sy{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))
               ), 0) AS acf
      FROM m'''
      for k in range(1, _ACF_MAX_LAG + 1))}
"""


@query("events_hourly_autocorrelation", oracle=_ACF_ORACLE)
def events_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (ACF) of the hourly event-count series
    at lags 1..5 — the seasonality/burstiness screen a traffic pipeline
    runs before capacity planning or anomaly thresholds (reference's
    monitoring layer has only static counts; this is the time-series
    extension). Pearson r between the series and its lag-k shift over
    the OBSERVED hour buckets, via the exact-integer-moments house
    pattern (see lineitem_correlation_matrix): counts are integers, so
    every moment is an exact BIGINT sum and the single
    double-arithmetic epilogue is bit-identical in both engines;
    constant series yield NULL acf via NULLIF.

    Scale shape: the groupBy(hour) rollup is a map-side-combined
    aggregation over the raw stream (the only pass that sees data
    volume); the lag windows run over the HOURLY series, whose length
    is bounded by calendar time (8,760 rows/year) — not by data volume
    — so the unpartitioned ORDER BY window is safe at any scale, and
    all 5 lags + all 30 moments land in ONE aggregate row (one scan,
    one tiny shuffle)."""
    k_max = _ACF_MAX_LAG
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "c", *[F.lag("c", k).over(w).alias(f"y{k}") for k in range(1, k_max + 1)]
    )
    aggs = []
    for k in range(1, k_max + 1):
        y = F.col(f"y{k}")
        mask = y.isNotNull()
        c = F.when(mask, F.col("c"))  # pair-complete x leg
        aggs += [
            F.count(y).cast("long").alias(f"n{k}"),
            F.sum(c).cast("long").alias(f"sx{k}"),
            F.sum(y).cast("long").alias(f"sy{k}"),
            F.sum(c * c).cast("long").alias(f"sxx{k}"),
            F.sum(y * y).cast("long").alias(f"syy{k}"),
            F.sum(c * y).cast("long").alias(f"sxy{k}"),
        ]
    # Round-9 NOTE (measured, left alone): AQE exchange reuse dedups
    # the shared moment exchange across the per-lag branches at
    # runtime; a checkpoint A/B'd slower (1.07 vs 1.17 — the
    # lineitem_correlation_matrix finding).
    m = lagged.agg(*aggs)
    out = None
    for k in range(1, k_max + 1):
        def D(name: str) -> F.Column:  # noqa: N802 — house style (corr matrix)
            return F.col(name).cast("double")

        num = D(f"n{k}") * D(f"sxy{k}") - D(f"sx{k}") * D(f"sy{k}")
        vx = D(f"n{k}") * D(f"sxx{k}") - D(f"sx{k}") * D(f"sx{k}")
        vy = D(f"n{k}") * D(f"syy{k}") - D(f"sy{k}") * D(f"sy{k}")
        row = m.select(
            F.lit(k).cast("int").alias("lag_hours"),
            F.col(f"n{k}").alias("n_pairs"),
            (num / F.nullif(F.sqrt(vx * vy), F.lit(0.0))).alias("acf"),
        )
        out = row if out is None else out.unionByName(row)
    return out
