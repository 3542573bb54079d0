"""Customer-model kit: the pieces the in-engine train/score/calibrate
queries share, each written once in PySpark next to its DuckDB SQL twin.

Users: ``customers_logreg_gd``, ``customers_decision_tree``,
``customers_cv_stump``, ``customers_ipw_ate``, ``customers_gains_lift``,
``customers_brier_calibration`` and ``orders_isotonic_calibration``
(relational_q) and ``orders_streaming_online_logreg`` (events_q).

* Feature table: ``orders`` grouped by ``o_custkey`` into activity
  ``x1``, spend band ``x2`` and label ``y``, plus a query's own extra
  aggregates.
* Hard-sigmoid score ``clamp(floor(z/4) + 500000, lo, hi)`` in integer
  micro-units, ``z = w0 + w1*x1 + w2*x2``, and one gradient-descent step
  on it.
* Histogram-trick split search.
* Total-order decile binning and the minimax isotonic fit over the bins.

Model state is integer micro-units and every division is one floored
IEEE division of exact operands, so both engines agree bit for bit.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import t

# ---------------------------------------------------------------------------
# Feature table
# ---------------------------------------------------------------------------


def customer_features(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """One row per customer: ``x1 = min(#orders, 20) - 5``,
    ``x2 = min(floor(avg price / 1e4), 50) - 30`` and
    ``y = [floor(avg price / 1e4) + #orders >= 35]``, then ``extra``
    aggregates over the customer's orders."""
    n = F.count(F.lit(1))
    band = F.floor(F.avg("o_totalprice") / 10000.0).cast("long")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.least(n, F.lit(20)) - 5).alias("x1"),
            (F.least(band, F.lit(50)) - 30).alias("x2"),
            F.when(band + n >= 35, 1).otherwise(0).alias("y"),
            *extra,
        )
    )


@contextmanager
def persisted_features(
    spark: SparkSession, sf_dir: str, *extra: Column
) -> Iterator[DataFrame]:
    """The feature table persisted for a multi-pass trainer and
    unpersisted on exit. Every trainer scans it several times; without
    the persist each scan re-aggregates ``orders`` (sf0.1, 4 cores, best
    of 5: ``customers_logreg_gd`` 1.21 s with it, 1.52 s without)."""
    feats = customer_features(spark, sf_dir, *extra).persist()
    try:
        yield feats
    finally:
        feats.unpersist()


def features_sql(*extra: str) -> str:
    """SQL twin of :func:`customer_features`: the ``feats`` CTE."""
    cols = "".join(f",\n             {e}" for e in extra)
    return f"""feats AS MATERIALIZED (
      SELECT o_custkey,
             least(COUNT(*), 20) - 5 AS x1,
             least(CAST(floor(AVG(o_totalprice) / 10000.0) AS BIGINT), 50) - 30
               AS x2,
             CASE WHEN CAST(floor(AVG(o_totalprice) / 10000.0) AS BIGINT)
                       + COUNT(*) >= 35
                  THEN 1 ELSE 0 END AS y{cols}
      FROM orders GROUP BY o_custkey
    )"""


# ---------------------------------------------------------------------------
# Hard-sigmoid score and gradient descent
# ---------------------------------------------------------------------------


def linear_score(w: list[int]) -> Column:
    """``z = w0 + w1*x1 + w2*x2`` under integer weights ``w``."""
    return F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")


def hard_sigmoid(w: list[int], lo: int = 0, hi: int = 1_000_000) -> Column:
    """``clamp(floor(z/4) + 500000, lo, hi)``: the piecewise-linear
    sigmoid in micro-units, so no transcendental's last ulp can differ
    between engines."""
    return F.least(
        F.greatest(
            F.floor(linear_score(w) / 4.0).cast("long") + F.lit(500000), F.lit(lo)
        ),
        F.lit(hi),
    )


LINEAR_SCORE_SQL = "w.w0 + w.w1 * f.x1 + w.w2 * f.x2"


def hard_sigmoid_sql(lo: int = 0, hi: int = 1_000_000) -> str:
    """SQL twin of :func:`hard_sigmoid` over weight row ``w`` and
    feature row ``f``."""
    return (
        f"least(greatest(CAST(floor(({LINEAR_SCORE_SQL}) / 4.0) AS BIGINT)"
        f" + 500000, {lo}), {hi})"
    )


def gd_step(
    df: DataFrame, w: list[int], *extra: Column, label: str = "y", divisor: int = 32
) -> tuple[list[int], Row]:
    """One gradient-descent step over ``df`` from weights ``w``.

    One action computes the row count ``n``, the integer gradient sums
    ``g_j = sum(x_j * (s - label * 1e6))`` (``x_0 = 1``, ``s`` the hard
    sigmoid under ``w``) and the caller's ``extra`` aggregates. The new
    weights are ``w_j - floor(g_j / (divisor * n))``. Returns them and
    the aggregate row."""
    err = hard_sigmoid(w) - F.col(label) * F.lit(1000000)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(err).alias("g0"),
        F.sum(F.col("x1") * err).alias("g1"),
        F.sum(F.col("x2") * err).alias("g2"),
        *extra,
    ).collect()[0]
    n = row["n"]
    return [
        w[j] - int(math.floor(float(row[f"g{j}"]) / (divisor * n))) for j in range(3)
    ], row


def fit_gd(feats: DataFrame, n_steps: int, label: str = "y") -> list[int]:
    """``n_steps`` batch :func:`gd_step` passes from zero weights."""
    w = [0, 0, 0]
    for _ in range(n_steps):
        w, _ = gd_step(feats, w, label=label)
    return w


def gd_steps_sql(
    n_steps: int,
    label: str = "y",
    divisor: int = 32,
    step_filter: Callable[[int], str] | None = None,
) -> str:
    """SQL twin of ``n_steps`` :func:`gd_step` calls over CTE ``feats``:
    CTEs ``it0`` (zero weights) to ``it{n_steps}``, each one step from
    the one before. ``step_filter(i)`` restricts step ``i``'s rows
    (0-based)."""
    err = f"(({hard_sigmoid_sql()}) - f.{label} * 1000000)"
    den = f"({divisor}.0 * COUNT(*))"
    parts = [
        "it0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2)"
    ]
    for r in range(1, n_steps + 1):
        where = f"\n      WHERE {step_filter(r - 1)}" if step_filter else ""
        parts.append(
            f"""it{r} AS MATERIALIZED (
      SELECT
        w.w0 - CAST(floor(SUM{err} / {den}) AS BIGINT) AS w0,
        w.w1 - CAST(floor(SUM(f.x1 * {err}) / {den}) AS BIGINT) AS w1,
        w.w2 - CAST(floor(SUM(f.x2 * {err}) / {den}) AS BIGINT) AS w2
      FROM feats f CROSS JOIN it{r - 1} w{where}
      GROUP BY w.w0, w.w1, w.w2
    )"""
        )
    return ",\n    ".join(parts)


# ---------------------------------------------------------------------------
# Split search
# ---------------------------------------------------------------------------


def best_split(df: DataFrame):
    """Best binary split of ``df`` on ``x1`` or ``x2`` for label ``y``.

    One value histogram per feature comes to the driver; each value but
    the largest is a candidate threshold (``feature <= v`` goes left).
    The score is the sum over both sides of ``(pos^2 + neg^2) / size``,
    exact-integer sums with one IEEE division; the largest score wins
    and ties break on (feature, value), smallest first. Returns ``None``
    when no feature has two distinct values, else
    ``(-score, feature, v, nl, pl, nr, pr, n, pos)``."""
    best = None
    for feat in ("x1", "x2"):
        h = sorted(
            (int(r["v"]), int(r["n_all"]), int(r["n_pos"]))
            for r in df.groupBy(F.col(feat).alias("v"))
            .agg(F.count(F.lit(1)).alias("n_all"), F.sum("y").alias("n_pos"))
            .collect()
        )
        n = sum(a for _, a, _ in h)
        pos = sum(p for _, _, p in h)
        nl = pl = 0
        for v, a, p in h[:-1]:
            nl += a
            pl += p
            nr, pr = n - nl, pos - pl
            num = (pl * pl + (nl - pl) ** 2) * nr + (pr * pr + (nr - pr) ** 2) * nl
            key = (-(num / (nl * nr)), feat, v)
            if best is None or key < best[:3]:
                best = (key[0], feat, v, nl, pl, nr, pr, n, pos)
    return best


_SPLIT_SCORE_SQL = (
    "CAST((pl*pl + (nl-pl)*(nl-pl)) * (n-nl)"
    " + ((pos-pl)*(pos-pl) + ((n-nl)-(pos-pl))*((n-nl)-(pos-pl))) * nl"
    " AS DOUBLE) / (nl * (n - nl))"
)


def best_split_sql(src: str, name: str) -> str:
    """SQL twin of :func:`best_split` over relation ``src``: CTEs
    ``h_{name}`` (histograms), ``c_{name}`` (cumulative left-side
    counts) and ``split_{name}``, its one best row
    ``(f, v, nl, pl, nr, pr, n, pos)``."""
    return f"""h_{name} AS (
      SELECT f, v, COUNT(*) AS n_all, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM (SELECT 'x1' AS f, x1 AS v, y FROM {src}
            UNION ALL SELECT 'x2', x2, y FROM {src})
      GROUP BY f, v
    ),
    c_{name} AS (
      SELECT f, v,
             SUM(n_all) OVER (PARTITION BY f ORDER BY v) AS nl,
             SUM(n_pos) OVER (PARTITION BY f ORDER BY v) AS pl,
             SUM(n_all) OVER (PARTITION BY f) AS n,
             SUM(n_pos) OVER (PARTITION BY f) AS pos,
             MAX(v) OVER (PARTITION BY f) AS vmax
      FROM h_{name}
    ),
    split_{name} AS MATERIALIZED (
      SELECT f, v, nl, pl, n - nl AS nr, pos - pl AS pr, n, pos
      FROM c_{name} WHERE v < vmax
      ORDER BY {_SPLIT_SCORE_SQL} DESC, f, v
      LIMIT 1
    )"""


# ---------------------------------------------------------------------------
# Deciles and isotonic fit
# ---------------------------------------------------------------------------


def deciles(df: DataFrame, *order) -> DataFrame:
    """``df`` plus ``rn`` (rank under the total order ``order``), ``n``
    (row count) and ``b = 1 + (rn - 1) * 10 div n``, the decile 1..10.
    The rank is one total-order sort: ties must break the same way in
    both engines for the decile edges to match."""
    ranked = df.select(
        "*",
        F.row_number().over(Window.orderBy(*order)).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.withColumn(
        "b", (1 + ((F.col("rn") - 1) * 10) / F.col("n")).cast("long")
    )


def decile_bins(ranked: DataFrame) -> DataFrame:
    """Per decile ``b`` of :func:`deciles` output: ``nb`` rows and
    ``sb``, the sum of the 0/1 label ``y``."""
    return ranked.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("y").alias("sb")
    )


def decile_bins_sql(src: str, order: str) -> str:
    """SQL twin of :func:`deciles` and :func:`decile_bins` over relation
    ``src``: CTEs ``ranked`` and ``bins``."""
    return f"""ranked AS MATERIALIZED (
      SELECT *, 1 + ((rn - 1) * 10) // n AS b
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY {order}) AS rn,
                   COUNT(*) OVER () AS n
            FROM {src})
    ),
    bins AS MATERIALIZED (
      SELECT b, COUNT(*) AS nb, CAST(SUM(y) AS BIGINT) AS sb
      FROM ranked GROUP BY b
    )"""


def isotonic_fit(bins: DataFrame) -> DataFrame:
    """Isotonic (PAVA) fit over bins ``(b, nb, sb)`` by its minimax
    form, ``iso_i = max_{j<=i} min_{k>=i} mean(y[j..k])`` in micro-units
    (one truncating division per segment), which needs no sequential
    pooling loop. Returns ``(i, iso_p)``. The three joins run on the
    bin summary (10^3 rows for deciles), not on the data."""
    i = bins.select(F.col("b").alias("i"))
    j = bins.select(F.col("b").alias("j"))
    k = bins.select(F.col("b").alias("k"))
    m = bins.select(F.col("b").alias("mb"), "nb", "sb")
    return (
        i.join(j, F.col("j") <= F.col("i"))
        .join(k, F.col("k") >= F.col("i"))
        .join(m, (F.col("mb") >= F.col("j")) & (F.col("mb") <= F.col("k")))
        .groupBy("i", "j", "k")
        .agg(F.expr("(sum(sb) * 1000000) div sum(nb)").alias("a"))
        .groupBy("i", "j")
        .agg(F.min("a").alias("am"))
        .groupBy("i")
        .agg(F.max("am").alias("iso_p"))
    )


# SQL twin of isotonic_fit over CTE ``bins``: CTE ``iso`` (b, iso_p).
ISOTONIC_SQL = """grid AS (
      SELECT i.b AS i, j.b AS j, k.b AS k,
             (SUM(m.sb) * 1000000) // SUM(m.nb) AS a
      FROM bins i
      JOIN bins j ON j.b <= i.b
      JOIN bins k ON k.b >= i.b
      JOIN bins m ON m.b BETWEEN j.b AND k.b
      GROUP BY 1, 2, 3
    ),
    iso AS MATERIALIZED (
      SELECT i AS b, MAX(am) AS iso_p
      FROM (SELECT i, j, MIN(a) AS am FROM grid GROUP BY i, j)
      GROUP BY i
    )"""
