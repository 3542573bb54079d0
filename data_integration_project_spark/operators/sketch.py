"""Cardinality sketches for corpus-scale profiling.

Spark's built-in ``approx_count_distinct`` (HyperLogLog++) cannot be
oracle-checked — its register layout is engine-specific. Two portable
alternatives live here, both built on the fixed affine hash family
(functions.text.HASH_P arithmetic) so two engines produce identical
estimates bit-for-bit:

* ``hll_distinct_estimate`` — classic HyperLogLog with the float parts
  folded into one constant (exact integer registers, one double
  division at the end);
* ``kmv_distinct_estimate`` — k-minimum-values: keep the k smallest
  DISTINCT hashes and estimate

    distinct ≈ (k - 1) · P / h_(k)

where h_(k) is the k-th smallest hash. Every step is deterministic
integer arithmetic plus one double division, so two engines produce the
same estimate bit-for-bit — the DuckDB oracle replays it exactly.

Distributed shape: ``distinct`` on the hash (map-side combined) then a
global ``TakeOrdered(k)`` — bounded state everywhere, mergeable across
partitions by construction (the k smallest of a union is the k smallest
of the per-partition k-smallest). 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import HASH_P as P

#: Fixed affine hash (same family as operators.dedup.hash_params(1)[0]).
_A, _B = 1103515245 % P, 12352 % P


def kmv_hash(col: Column) -> Column:
    """Portable value hash into [0, P): injective for values < P."""
    return (F.lit(_A) * (col.cast("long") % P) + F.lit(_B)) % P


def hll_hash(col: Column) -> Column:
    """32-bit NONLINEAR portable hash: the first 8 hex digits of
    md5(value-as-string), parsed to an integer.

    HLL needs uniform, independent bits — the affine ``kmv_hash`` is a
    LINEAR map, so a dense id range stays a lattice and the
    leading-zero ranks come out biased (measured ~2× overestimate on
    ``range(20000)``). md5 destroys that structure; KMV keeps the
    affine hash because its k-th-smallest estimator only needs
    equidistribution, which a lattice satisfies.

    DuckDB twin: ``plans.catalog.SQL_MD5_INT(.., 8)``, which folds the
    same 8 hex chars with ``acc·16 + hex_digit`` — verified bit-equal."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def hll_constants(m: int) -> tuple[int, int, float]:
    """(bucket_bits, K, scaled_alpha) for an m-register portable HLL.

    The hash is 32-bit (``hll_hash``); the low ``bucket_bits`` select
    the register and the remaining ``w_bits = 32 - bucket_bits`` form
    the rank word, so ranks live in [1, K] with K = w_bits + 1.
    ``scaled_alpha`` folds the whole float part of the estimator —
    alpha_m · m² · 2^K — into ONE constant, so the runtime estimate is
    a single double division over an exact integer sum (bit-portable).
    """
    bucket_bits = m.bit_length() - 1
    if 1 << bucket_bits != m:
        raise ValueError(f"m must be a power of two, got {m}")
    k_max = (32 - bucket_bits) + 1
    alpha = 0.7213 / (1 + 1.079 / m)
    return bucket_bits, k_max, alpha * m * m * float(1 << k_max)


def hll_registers(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """(_b, _m) register table of the portable HLL — THE shared layout:
    every consumer (the one-row estimate below, shard merging, the
    set-algebra union) must build registers through this one function,
    or two sketches stop being mergeable without any test noticing."""
    _, k_max, _ = hll_constants(m)
    hv = hll_hash(F.col(col))
    w = F.floor(hv / m).cast("long")
    rank = F.when(w == F.lit(0), F.lit(k_max)).otherwise(
        F.lit(k_max) - F.length(F.bin(w))
    )
    return (
        df.select((hv % m).alias("_b"), rank.alias("_r"))
        .groupBy("_b")
        .agg(F.max("_r").alias("_m"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, m: int, name: str = "n_estimate"
) -> DataFrame:
    """One-row distinct estimate from a (_b, _m) register table —
    floor(scaled_alpha / s_scaled), the same single double division as
    ``hll_distinct_estimate`` (which inlines it to also emit the
    s_scaled/n_empty proof columns)."""
    _, k_max, scaled_alpha = hll_constants(m)
    n_seen = F.count(F.lit(1))
    # Empty-input contract: SUM over zero rows is NULL — coalesce to 0
    # so an empty register table degrades to the all-zero sketch
    # (s = m·2^k_max, i.e. the raw estimator's floor(alpha·m) empty
    # bias) instead of a NULL estimate. The set-op oracle
    # (plans/events_q._hll_setop_oracle) mirrors this COALESCE.
    s = (
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(k_max) - F.col("_m")).cast("long")),
            F.lit(0),
        )
        + (F.lit(m) - n_seen) * F.lit(1 << k_max)
    ).cast("long")
    return regs.agg(s.alias("_s")).select(
        F.floor(F.lit(scaled_alpha) / F.col("_s")).cast("long").alias(name)
    )


def hll_distinct_estimate(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """One-row portable-HLL summary: (m, n_empty, s_scaled, n_estimate).

    Classic HyperLogLog, made oracle-checkable by keeping every step in
    exact integer arithmetic: register = hash % m, rank = leading-zero
    count of the remaining 26-bit word + 1 (via ``length(bin(w))`` —
    identical in Spark and DuckDB), and the harmonic denominator
    Z = Σ 2^(-M_j) stored scaled by 2^K as the integer
    ``s_scaled = Σ 2^(K - M_j)`` (empty registers contribute 2^K).
    The estimate alpha·m²/Z is then ``floor(scaled_alpha / s_scaled)``
    — one double division, bit-equal across engines.

    No low-cardinality linear-counting correction (it needs ln(), whose
    last-bit behavior is libm-specific) — the raw estimator's known
    small-range bias is visible against ``n_empty``/exact counts.

    Distributed shape: one groupBy on m keys (map-side combined max),
    then a single m-row final fold — constant state, mergeable, the
    same plan at any scale."""
    _, k_max, scaled_alpha = hll_constants(m)
    regs = hll_registers(df, col, m)
    n_seen = F.count(F.lit(1))
    s_scaled = (
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(k_max) - F.col("_m")).cast("long")),
            F.lit(0),
        )
        + (F.lit(m) - n_seen) * F.lit(1 << k_max)
    ).cast("long")
    return regs.agg(
        F.lit(m).alias("m"),
        (F.lit(m) - n_seen).cast("int").alias("n_empty"),
        s_scaled.alias("s_scaled"),
    ).select(
        "m",
        "n_empty",
        "s_scaled",
        F.floor(F.lit(scaled_alpha) / F.col("s_scaled")).cast("long").alias("n_estimate"),
    )


#: Affine row-hash family for count-min (pairwise independence is
#: exactly what affine-mod-P gives; the value entering it must already
#: be well-mixed — e.g. a char-fold token hash).
CMS_PARAMS: list[tuple[int, int]] = [
    (1103515245, 12352),
    (48271, 11),
    (69621, 403),
    (40692, 3791),
]


def cms_counters(
    weighted: DataFrame, hash_col: str, weight_col: str, width: int = 256
) -> DataFrame:
    """Count-min sketch counters from (value-hash, weight) rows:
    one (depth, bucket, counter) row per occupied cell — depth×width
    bounded state, additive counters (mergeable across partitions,
    batches, or days by summing). The estimate for a value is the MIN
    over its depth cells (see ``cms_estimate``); overestimates only,
    by ≤ total/width per row with high probability."""
    legs = []
    for j, (a, b) in enumerate(CMS_PARAMS):
        legs.append(
            weighted.select(
                F.lit(j).alias("depth"),
                (((F.lit(a) * (F.col(hash_col) % P) + F.lit(b)) % P) % width).alias(
                    "bucket"
                ),
                F.col(weight_col).alias("_w"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.groupBy("depth", "bucket").agg(F.sum("_w").alias("counter"))


def cms_estimate(
    queries: DataFrame, counters: DataFrame, hash_col: str, width: int = 256
) -> DataFrame:
    """Point-query the sketch: join each query value's depth cells to
    the counter table (broadcastable — depth×width rows) and take the
    per-value MIN counter as the estimate."""
    cells = None
    for j, (a, b) in enumerate(CMS_PARAMS):
        leg = queries.select(
            "*",
            F.lit(j).alias("depth"),
            (((F.lit(a) * (F.col(hash_col) % P) + F.lit(b)) % P) % width).alias(
                "bucket"
            ),
        )
        cells = leg if cells is None else cells.unionByName(leg)
    joined = cells.join(F.broadcast(counters), ["depth", "bucket"])
    keys = [c for c in queries.columns]
    return joined.groupBy(*keys).agg(F.min("counter").alias("cms_estimate"))


def misra_gries_candidates(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Bounded-state heavy-hitter CANDIDATES: per-partition Misra-Gries
    summaries (≤ ``capacity`` live counters each, regardless of |vocab|)
    merged into one candidate list of ≤ capacity × n_partitions rows.

    The frequent-items guarantee (Misra & Gries 1982; mergeability per
    Agarwal et al., "Mergeable Summaries", PODS'12): every item with true
    count > N/(capacity+1) survives with a positive counter in at least
    one partition summary — independent of row order or partitioning. The
    candidate SET therefore deterministically contains all true heavy
    hitters even though individual MG counters are order-dependent; callers
    must exact-verify candidates (cheap: the list is tiny) before claiming
    counts, which is what :func:`heavy_hitters` does.

    This is the LIST-shaped complement to the count-min grid
    (``cms_counters``): CMS answers point queries over an unbounded vocab,
    MG enumerates the frequent items without ever shuffling the vocab.

    Per-batch the summary is updated with the vectorized merge (batch
    ``value_counts`` + "subtract the (capacity+1)-th largest, drop ≤ 0"),
    not a per-row loop — one pandas op per Arrow batch."""
    import pandas as pd

    def mg(batches):
        counts: "pd.Series | None" = None
        for pdf in batches:
            vc = pdf[col].value_counts()
            merged = vc if counts is None else counts.add(vc, fill_value=0)
            if len(merged) > capacity:
                cut = merged.nlargest(capacity + 1).iloc[-1]
                merged = merged - cut
                merged = merged[merged > 0]
            counts = merged
        if counts is None or counts.empty:
            yield pd.DataFrame({"item": pd.Series([], dtype=object)})
        else:
            yield pd.DataFrame({"item": counts.index.astype(object)})

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        mg, "item string"
    ).distinct()


def heavy_hitters(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Exact frequent-items list with bounded state: all values of
    ``col`` whose count exceeds N/(capacity+1), with their EXACT counts —
    computed without ever shuffling the full vocabulary.

    Two passes: (1) Misra-Gries candidate generation (bounded per-partition
    state, tiny merged candidate list — see guarantee on
    :func:`misra_gries_candidates`); (2) exact verification counting ONLY
    rows matching a candidate (broadcast semi-join, so the groupBy key
    domain is ≤ the candidate list). The output is deterministic — the
    superset guarantee plus exact verification erase the order-dependence
    of the raw MG counters — and equals ``GROUP BY HAVING
    count·(capacity+1) > N``, which is exactly what the oracle computes.

    100 TB shape: where doc_top_tokens' exact two-level agg stops scaling
    (shuffle carries |vocab| rows), this carries ≤ capacity×partitions
    candidates and then counts a pre-filtered stream against a broadcast
    list."""
    vals = df.select(F.col(col).cast("string").alias(col))
    total = vals.agg(F.count(F.lit(1)).alias("_n"))
    cands = misra_gries_candidates(vals, col, capacity)
    exact = (
        vals.join(F.broadcast(cands), vals[col] == cands["item"], "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * (capacity + 1) > F.col("_n"))
        .drop("_n")
    )


def kmv_distinct_estimate(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One-row sketch summary: (k, n_seen, n_estimate).

    ``n_seen`` is the number of sketch entries (= exact distinct count
    while the sketch is not full); ``n_estimate`` is the KMV estimate —
    when the sketch is not full it equals the exact count (the sketch
    degrades gracefully to exact at low cardinality)."""
    hashes = df.select(kmv_hash(F.col(col)).alias("_h")).distinct()
    topk = hashes.orderBy("_h").limit(k)  # TakeOrdered(k): no global sort
    return topk.agg(
        F.lit(k).alias("k"),
        F.count(F.lit(1)).alias("n_seen"),
        F.when(
            F.count(F.lit(1)) < k,
            F.count(F.lit(1)),
        )
        .otherwise(
            F.floor(F.lit(float(k - 1)) * F.lit(float(P)) / F.max("_h"))
        )
        .cast("long")
        .alias("n_estimate"),
    )


def kmv_sketch(df: DataFrame, col: Column, k: int = 256) -> DataFrame:
    """The raw KMV sketch: the k smallest distinct affine hashes of a
    set, as a k-row DataFrame — the mergeable representation that
    set-algebra estimates (union / intersection) operate on."""
    return df.select(kmv_hash(col).alias("_h")).distinct().orderBy("_h").limit(k)


def kmv_set_algebra(
    df_a: DataFrame, col_a: Column, df_b: DataFrame, col_b: Column, k: int = 256
) -> DataFrame:
    """Theta-sketch-style set algebra over two KMV sketches: estimate
    |A ∪ B| and |A ∩ B| WITHOUT joining the underlying sets — the
    sketches are k rows each, so the whole computation after the two
    scans is constant-size. This is how overlap questions ("how many
    purchasers also clicked?", "how much does this source overlap that
    one?") are answered at 100 TB: sketch each side during ingest,
    merge/intersect sketches at query time.

    Mechanics (integer-exact except two final single divisions):
    theta = min of the two sketches' k-th-smallest hashes (each P if
    the sketch isn't full — degrading gracefully to exact); common =
    hashes below theta present in BOTH sketches; |A∩B| ~= floor(
    common * P / theta); |A∪B| from the standard KMV estimate over the
    k smallest of the merged sketch entries."""
    # round-9 NOTE (measured, left alone): each ≤k-row sketch feeds
    # several consumers, but the sketch's TakeOrdered exchange is
    # reused by AQE at runtime; a lazy localCheckpoint A/B'd slower
    # (0.80 plain vs 0.86).
    a = kmv_sketch(df_a, col_a, k).withColumnRenamed("_h", "_ha")
    b = kmv_sketch(df_b, col_b, k).withColumnRenamed("_h", "_hb")
    a_stats = a.agg(
        F.count(F.lit(1)).alias("na"),
        F.when(F.count(F.lit(1)) < k, F.lit(P)).otherwise(F.max("_ha")).alias("ta"),
    )
    b_stats = b.agg(
        F.count(F.lit(1)).alias("nb"),
        F.when(F.count(F.lit(1)) < k, F.lit(P)).otherwise(F.max("_hb")).alias("tb"),
    )
    theta = F.least(F.col("ta"), F.col("tb"))
    common = (
        a.join(b, F.col("_ha") == F.col("_hb"))
        .crossJoin(F.broadcast(a_stats.crossJoin(b_stats)))
        .filter(F.col("_ha") < theta)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    merged = a.select(F.col("_ha").alias("_h")).unionByName(
        b.select(F.col("_hb").alias("_h"))
    ).distinct().orderBy("_h").limit(k)
    union_est = merged.agg(
        F.count(F.lit(1)).alias("nu"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)))
        .otherwise(F.floor(F.lit(float(k - 1)) * F.lit(float(P)) / F.max("_h")))
        .cast("long")
        .alias("est_union"),
    )
    return (
        a_stats.crossJoin(b_stats)
        .crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(union_est))
        .select(
            F.lit(k).alias("k"),
            theta.cast("long").alias("theta"),
            F.col("n_common").cast("long").alias("n_common"),
            F.floor(
                F.col("n_common").cast("double") * F.lit(float(P))
                / theta.cast("double")
            )
            .cast("long")
            .alias("est_intersection"),
            F.col("est_union"),
        )
    )
