"""Deterministic sampling for training-data pipelines.

``df.sample``/``sampleBy`` draw from a seeded RNG whose stream depends
on partitioning — re-partition the input and the sample changes, and no
other engine can reproduce it. These operators sample by PORTABLE hash
arithmetic instead: a row is in the sample iff

    ((a·(key mod P) + b) mod P) mod 1000 < rate_permille

so membership is a pure function of the key — stable under
repartitioning, re-runs, engine changes, and incremental reprocessing
(yesterday's sampled keys stay sampled today). The filter is a codegen
expression evaluated scan-side; no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import HASH_P as P

_A, _B = 1103515245 % P, 12360 % P


def sample_bucket(col: Column, salt: int = 0) -> Column:
    """Stable per-key bucket in [0, 1000): the sampling unit."""
    return ((F.lit(_A) * ((col.cast("long") + salt) % P) + F.lit(_B)) % P) % 1000


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_permille: dict[str, int],
    *,
    default_permille: int = 0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum rates (e.g. downsample dominant languages, keep all
    of the rare ones): one CASE expression over the stratum column —
    still a scan-side filter, no per-stratum passes."""
    rate = F.lit(default_permille)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(strata_col) == stratum, permille).otherwise(rate)
    return df.filter(sample_bucket(F.col(key_col), salt) < rate)


def priority_sample(
    df: DataFrame, key_col: str, weight: Column, k: int
) -> DataFrame:
    """Weighted sampling without replacement by PRIORITY SAMPLING
    (Duffield–Lund–Thorup, JACM'07): priority q_i = w_i / u_i with
    u_i ∈ (0,1] a deterministic per-key uniform (md5 hash — the
    nonlinear generator, same rationale as the HLL hash); keep the k
    highest priorities; tau = the (k+1)-th priority. The estimator
    ŵ_i = max(w_i, tau) makes Σ ŵ_i an unbiased estimate of Σ w_i —
    the sampling primitive for "subsample this corpus by quality
    weight and still report calibrated totals".

    Deterministic and portable: u is one hash + one division, q one
    more division — identical IEEE ops in any engine replaying the
    md5 recipe, so the selected SET (not just its size) is
    reproducible and oracle-checkable.

    Scale shape: the top-(k+1) is TakeOrderedAndProject (per-partition
    heaps merged on the driver), never a global sort; everything
    downstream operates on k+1 rows.

    Returns the k sampled rows: (key, w, priority, tau, w_hat).
    """
    h = F.conv(
        F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + 1) / F.lit(4294967296.0)
    scored = df.select(
        F.col(key_col).alias("key"), weight.alias("w")
    ).withColumn("priority", F.col("w") / u)
    top = (
        scored.orderBy(F.desc("priority"), F.asc("key"))
        .limit(k + 1)
        .localCheckpoint()  # k+1 rows of sketch metadata, reused 2×
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.orderBy(F.desc("priority"), F.asc("key"))
    )
    ranked = top.withColumn("rn", rn)
    tau = ranked.filter(F.col("rn") == k + 1).select(
        F.col("priority").alias("tau")
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            "key",
            "w",
            "priority",
            "tau",
            F.greatest(F.col("w"), F.col("tau")).alias("w_hat"),
        )
    )
