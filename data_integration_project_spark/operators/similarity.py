"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, and a signed-random-
projection (SRP) bucketed variant as the scale path.

The brute-force form is a cross join — correct and oracle-checkable,
O(|Q|·|C|); keep |Q| bounded. The SRP variant hashes vectors into
2^n_planes buckets with deterministic pseudo-random hyperplanes (plane
components derived from integer hashing — no RNG state, reproducible
across runs/engines) and only compares within a bucket: at 1000-executor
scale the bucket id becomes the shuffle key and each bucket is a local
top-k, merged per query.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import python_stage
from pyspark.sql import Window

from ..functions.vectors import cosine

# default plane width when the caller doesn't pass the observed vector
# length. Plane literals land in the serialized plan and every task's
# codegen, so the right width is the COLUMN's width: entry points probe
# it with :func:`observed_dim` and thread it through — a 768-dim
# embedding column gets 768-component planes, not a silent 64-wide
# truncation (zip_with pads the short side with NULLs, which would
# NULL the whole dot product).
_SRP_MAX_DIM = 64


def observed_dim(df: DataFrame, vec_col: str, default: int = _SRP_MAX_DIM) -> int:
    """Vector length of an embedding column — a one-row metadata probe
    at plan build (cheap at any scale: LIMIT 1). Falls back to
    ``default`` on an empty dataset."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None and row["d"] > 0 else default


@lru_cache(maxsize=256)
def md5_plane_components(table: int, plane: int, dim_count: int = _SRP_MAX_DIM):
    """Hyperplane components in [-1, 1) from md5(table:plane:dim) —
    the NONLINEAR hash the HLL estimator already needed (ROADMAP: an
    affine hash keeps dense inputs on a lattice). The previous affine
    plane generator made every (table, plane) a SHIFT of one
    arithmetic progression, so the 'independent' LSH tables were
    heavily correlated: measured edge recall at cos≈0.88 was ~0.46
    where the independence math promises 0.98. md5 components restore
    the promised recall (measured 0.98+ on the same corpus).

    Values are plain Python floats computed once on the driver —
    hyperplanes are metadata, embedded as literal arrays in the plan
    (and reproducible in any engine from the same md5 recipe), so the
    executor-side dot product has no hash arithmetic at all.
    """
    out = []
    for d in range(dim_count):
        h = int(hashlib.md5(f"{table}:{plane}:{d}".encode()).hexdigest()[:8], 16)
        out.append(h / 2147483648.0 - 1.0)
    return tuple(out)


def srp_plane_dot(vec: Column, table: int, plane: int, dim: int = _SRP_MAX_DIM) -> Column:
    """v · plane — the signed projection behind one bucket bit.
    ``dim`` must be ≥ the vector length (callers thread
    :func:`observed_dim` through); the plane is sliced down to the
    actual length at runtime."""
    comps = F.array(
        *[F.lit(v) for v in md5_plane_components(table, plane, dim)]
    )
    return F.aggregate(
        F.zip_with(
            vec,
            F.slice(comps, F.lit(1), F.size(vec)),
            lambda x, c: x.cast("double") * c,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def srp_bucket(
    vec: Column, n_planes: int, table: int = 0, dim: int = _SRP_MAX_DIM
) -> Column:
    """Signed-random-projection bucket id: bit p = sign(v · plane_p),
    hyperplanes from :func:`md5_plane_components` (literal arrays,
    sliced to the vector's length)."""
    bits = [
        F.when(srp_plane_dot(vec, table, p, dim) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        for p in range(n_planes)
    ]
    return sum(bits, start=F.lit(0)).cast("int")


def srp_probe_buckets(
    vec: Column, n_planes: int, table: int, dim: int = _SRP_MAX_DIM
) -> Column:
    """MULTI-PROBE LSH (Lv et al., VLDB'07, reduced to one extra
    probe): the query probes its own bucket AND the bucket reached by
    flipping its LEAST-CONFIDENT bit — the plane whose |dot| is
    smallest is the one a true neighbor most likely lands on the other
    side of. Near-doubles single-table recall for +1 probe instead of
    +1 table (probes are extra JOIN KEYS, tables are extra copies of
    the corpus index — at 100 TB probes are almost free, tables are
    not). Tie on |dot| breaks by plane weight, matching the oracle's
    min-struct exactly. Returns [bucket, bucket ⊕ weakest_bit]."""
    dots = [srp_plane_dot(vec, table, p, dim) for p in range(n_planes)]
    bucket = sum(
        (
            F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p, d in enumerate(dots)
        ),
        start=F.lit(0),
    ).cast("int")
    weakest_pw = F.array_min(
        F.array(
            *[
                F.struct(F.abs(d).alias("a"), F.lit(1 << p).alias("pw"))
                for p, d in enumerate(dots)
            ]
        )
    )["pw"]
    return F.array(bucket, bucket.bitwiseXOR(weakest_pw).cast("int"))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k: cross join + fold-based cosine + per-query window.
    Ties break on corpus id for full determinism. Self-matches
    (same id) are excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    # spread the O(|Q|·|C|) cosine work: partition the query side so the
    # cross join fans out even when both inputs are single files; the
    # count is pinned because byte-based AQE would coalesce the small-
    # bytes/high-CPU exchange back to one task (the JPEG-decode lesson)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    n_parts = queries.sparkSession.sparkContext.defaultParallelism
    scored = (
        q.repartition(n_parts, F.col("query_id"))
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def srp_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_planes: int = 3,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: compare only within the query's SRP bucket,
    unioning candidates across ``n_tables`` independent hash tables
    (multi-table LSH — each table misses different neighbors; the union
    recovers recall that a single table can't reach on near-uniform
    data). Cost ≈ n_tables / 2^n_planes of brute force."""

    dim = observed_dim(corpus, vec_col)

    def bucketed(df: DataFrame, idn: str, vecn: str) -> DataFrame:
        tables = F.array(
            *[
                srp_bucket(F.col(vecn), n_planes, table, dim)
                for table in range(n_tables)
            ]
        )
        staged = df.select(
            F.col(id_col).alias(idn), F.col(vec_col).alias(vecn)
        ).withColumn("_tables", tables)
        return staged.select(
            idn, vecn, F.posexplode("_tables").alias("_table", "_bucket")
        )

    q = bucketed(queries, "query_id", "_qv")
    c = bucketed(corpus, "neighbor_id", "_cv")
    scored = (
        q.join(c, ["_table", "_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .distinct()  # a pair found by several tables is scored once
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k via an Arrow-batched Pandas UDF: the corpus index is
    broadcast to executors as one numpy matrix; each query batch is a
    single BLAS matmul (~100× the per-element fold throughput).

    Scale shape: the QUERY matrix (the bounded side — |Q|·d doubles,
    centroid-table-sized metadata) is broadcast; the CORPUS — the
    100 TB side — is never collected. Each corpus Arrow batch is one
    BLAS matmul emitting a per-batch partial top-k per query, and a
    final per-query window merges partials into the exact global
    top-k (top-k of unioned per-block top-ks = global top-k, same
    (cos desc, id asc) order on both levels).

    Output is BIT-EQUAL to the fold-based :func:`brute_force_topk`
    (and therefore to the DuckDB fold oracles): the gemm only SELECTS
    candidates, and every value that ranks or ships is recomputed in
    the fold cosine's exact IEEE operation order — see the in-body
    comments and ``test_topk_pandas_matches_fold_path_with_ties``,
    which pins tie-break-by-id for content-identical vectors split
    across batches.

    ``exclude_label_col``: when set, pairs whose query and corpus rows
    share that label are excluded — the hard-negative-mining contract
    ([[embeddings_hard_negatives]]) in ONE corpus pass instead of one
    leg per label (round-9, the mutual_topk_pandas single-pass trick);
    the exclusion only masks CANDIDATES, so shipped values keep the
    bit-equality contract. Labels are assumed NON-NULL (round-9 advice
    item): the numpy equality mask treats NULL==NULL as a match only,
    so NULL-labeled queries are mined and NULL-labeled corpus rows are
    candidates for every non-NULL query — unlike the per-label-leg
    plan this replaced, which dropped NULL on both sides. Pre-filter
    NULL labels upstream if the old semantics are needed."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    q_cols = [id_col, vec_col] + ([exclude_label_col] if exclude_label_col else [])
    rows = queries.select(*q_cols).collect()  # bounded query set
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in rows], dtype=np.float64)
    q_lab = (
        np.array([r[2] for r in rows], dtype=object)
        if exclude_label_col
        else None
    )
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_lab))

    def op(batches):
        qi, qm, qlab = bc.value
        # exact query self-norms, accumulated in DIMENSION order (the
        # fold's add sequence)
        qaa = np.zeros(len(qm), dtype=np.float64)
        for d_ in range(qm.shape[1]):
            qaa += qm[:, d_] * qm[:, d_]
        q_norm = np.sqrt(qaa)
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            caa = np.zeros(len(c), dtype=np.float64)
            for d_ in range(c.shape[1]):
                caa += c[:, d_] * c[:, d_]
            c_norm = np.sqrt(caa)
            # FAST pass: one gemm approximates every cosine to ~1e-15.
            # gemm blocking varies with batch shape, so content-identical
            # vectors in different batches can differ in the last ulp and
            # ties would break by noise — the fast values only SELECT
            # candidates; the values that rank and ship are recomputed
            # below in the fold's exact operation order (caught by
            # test_topk_pandas_matches_fold_path_with_ties).
            sims = (qm @ c.T) / (q_norm[:, None] * c_norm[None, :])
            self_m = qi[:, None] == c_ids[None, :]
            if qlab is not None:
                c_lab = np.array(list(pdf[exclude_label_col]), dtype=object)
                self_m = self_m | (qlab[:, None] == c_lab[None, :])
            sims[self_m] = -np.inf
            kk = min(k, sims.shape[1])
            # O(W) partition per row, then a 1e-12 margin so every
            # potential exact tie at the k-th boundary is a candidate
            thresh = -np.partition(-sims, kk - 1, axis=1)[:, kk - 1]
            cand = (sims >= (thresh - 1e-12)[:, None]) & ~self_m
            r, ci = np.nonzero(cand)
            if len(r) == 0:  # e.g. all-NaN scores from zero-norm inputs
                continue
            # EXACT recompute on the ~|Q|·k candidate pairs: dot in
            # dimension order (the left-to-right fold's IEEE sequence),
            # one sqrt-product division — bit-equal to brute_force_topk
            dots = np.zeros(len(r), dtype=np.float64)
            for d_ in range(c.shape[1]):
                dots += qm[r, d_] * c[ci, d_]
            s_f = dots / (q_norm[r] * c_norm[ci])
            # one grouped lexsort: (row, score desc, id asc) — rows stay
            # contiguous, candidates within a row land in output order
            order = np.lexsort((c_ids[ci], -s_f, r))
            r2, ci2, s2 = r[order], ci[order], s_f[order]
            counts = np.bincount(r, minlength=sims.shape[0])
            nz = counts > 0
            starts = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
            pos = np.arange(len(r2)) - np.repeat(starts, counts[nz])
            keep = pos < kk
            yield pd.DataFrame(
                {
                    "query_id": qi[r2[keep]],
                    "neighbor_id": c_ids[ci2[keep]],
                    "cos_sim": s2[keep],
                }
            )

    # pin the corpus fan-out: a single-file source otherwise arrives as
    # one partition and the per-batch matmul runs on one core with a
    # |Q|x|batch| matrix sized by the whole corpus (the AQE-coalesce /
    # media-decode lesson; measured 5x on the bitext-mining shape)
    c_cols = [id_col, vec_col] + ([exclude_label_col] if exclude_label_col else [])
    partial = python_stage(
        corpus.select(*c_cols),
        op,
        "query_id long, neighbor_id long, cos_sim double",
        key=id_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def mutual_topk_pandas(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    side_col,
    k: int,
) -> DataFrame:
    """BOTH directions of a two-sided exact top-k (the bitext-mining
    shape) in ONE corpus pass: ``side_col`` (a boolean Column) splits
    the corpus into side A (false) and side B (true); side-A rows are
    queries against the side-B corpus and vice versa.

    One collect ships both query matrices to the executors; each Arrow
    batch is sliced by side and scored against the OPPOSITE side's
    query matrix with the exact :func:`brute_force_topk_pandas`
    arithmetic (gemm SELECTS candidates, the shipped values are
    recomputed in the fold cosine's IEEE operation order), so emitted
    values are bit-identical to running the two directional passes
    separately — per-batch partials are batch-content-independent and
    the global per-(dir, query) window merges them exactly as the
    one-sided merge does.

    Versus two ``brute_force_topk_pandas`` calls: one corpus scan
    instead of two (each directional pass reads EVERY page — a parity
    filter prunes nothing at the parquet level), one query collect
    instead of two, one repartition+window instead of two. Returns
    ``(dir, query_id, neighbor_id, cos_sim, rank)`` with dir 0 = side-A
    queries, dir 1 = side-B queries."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    rows = corpus.select(id_col, vec_col, side_col.alias("_side")).collect()
    sides = []
    for want in (False, True):
        picked = [r for r in rows if bool(r[2]) == want]
        ids = np.array([r[0] for r in picked], dtype=np.int64)
        mat = np.array([r[1] for r in picked], dtype=np.float64)
        qaa = np.zeros(len(mat), dtype=np.float64)
        for d_ in range(mat.shape[1] if len(mat) else 0):
            qaa += mat[:, d_] * mat[:, d_]
        sides.append((ids, mat, np.sqrt(qaa)))
    bc = spark.sparkContext.broadcast(sides)

    def op(batches):
        qsides = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            all_ids = pdf[id_col].to_numpy(dtype=np.int64)
            all_side = pdf["_side"].to_numpy(dtype=bool)
            all_v = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # dir 0: side-A queries vs the batch's side-B rows; dir 1 mirrored
            for direction, corpus_side in ((0, True), (1, False)):
                qi, qm, q_norm = qsides[direction]
                if not len(qi):
                    continue
                mask = all_side == corpus_side
                if not mask.any():
                    continue
                c_ids = all_ids[mask]
                c = all_v[mask]
                caa = np.zeros(len(c), dtype=np.float64)
                for d_ in range(c.shape[1]):
                    caa += c[:, d_] * c[:, d_]
                c_norm = np.sqrt(caa)
                sims = (qm @ c.T) / (q_norm[:, None] * c_norm[None, :])
                self_m = qi[:, None] == c_ids[None, :]
                sims[self_m] = -np.inf
                kk = min(k, sims.shape[1])
                thresh = -np.partition(-sims, kk - 1, axis=1)[:, kk - 1]
                cand = (sims >= (thresh - 1e-12)[:, None]) & ~self_m
                r, ci = np.nonzero(cand)
                if len(r) == 0:
                    continue
                dots = np.zeros(len(r), dtype=np.float64)
                for d_ in range(c.shape[1]):
                    dots += qm[r, d_] * c[ci, d_]
                s_f = dots / (q_norm[r] * c_norm[ci])
                order = np.lexsort((c_ids[ci], -s_f, r))
                r2, ci2, s2 = r[order], ci[order], s_f[order]
                counts = np.bincount(r, minlength=sims.shape[0])
                nz = counts > 0
                starts = np.concatenate(([0], np.cumsum(counts[nz])[:-1]))
                pos = np.arange(len(r2)) - np.repeat(starts, counts[nz])
                keep = pos < kk
                yield pd.DataFrame(
                    {
                        "dir": np.int32(direction),
                        "query_id": qi[r2[keep]],
                        "neighbor_id": c_ids[ci2[keep]],
                        "cos_sim": s2[keep],
                    }
                )

    partial = python_stage(
        corpus.select(id_col, vec_col, side_col.alias("_side")),
        op,
        "dir int, query_id long, neighbor_id long, cos_sim double",
        key=id_col,
    )
    w = Window.partitionBy("dir", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("dir", "query_id", "neighbor_id", "cos_sim", "rank")
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    n_iters: int = 5,
) -> "object":
    """Deterministic mini k-means for the IVF coarse quantizer: init
    from id-evenly-spaced corpus vectors (no RNG), then n_iters of
    assign (numpy matmul inside mapInPandas) + per-cluster mean
    (codegen aggregate over exploded dims). The centroid table is
    k×d — genuinely driver-sized metadata (16×64 here); everything
    row-scale stays distributed.

    Cross-engine determinism: distances are rounded to 6 dp before the
    argmin (ties break to the lowest cluster id) and centroid means
    are rounded to 6 dp after each update, so a SQL oracle folding the
    same arithmetic in a different summation order reproduces every
    assignment exactly."""
    import numpy as np

    n = corpus.count()
    step = max(n // k, 1)
    # id-stride arithmetic sampling — a pushed-down filter plus a
    # TakeOrdered(k) (distributed per-partition top-k, merged on the
    # driver); no global window sort anywhere in the plan.
    seed_rows = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = np.array([r[0] for r in seed_rows], dtype=np.float64)

    spark = corpus.sparkSession
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(centroids)

        def assign(batches):
            import pandas as pd

            cents = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
                d2 = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                d2 = np.round(d2, 6)  # argmin ties → lowest cluster id
                out = pd.DataFrame({"_cluster": d2.argmin(axis=1).astype("int32")})
                out[vec_col] = list(pdf[vec_col])
                yield out

        assigned = corpus.select(vec_col).mapInPandas(
            assign, schema=f"_cluster int, {vec_col} array<float>"
        )
        # per-cluster mean via explode + codegen avg (no driver rows
        # beyond the k×d result)
        means = (
            assigned.select("_cluster", F.posexplode(vec_col).alias("_d", "_x"))
            .groupBy("_cluster", "_d")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new = centroids.copy()
        for r in means:
            new[r["_cluster"], r["_d"]] = r["_m"]
        centroids = np.round(new, 6)
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer partitions the
    corpus into inverted lists; each query scores only the ``n_probe``
    nearest lists (cost ≈ n_probe/n_clusters of brute force). The
    cluster id is the shuffle/join key — at scale the inverted lists
    are the partitioning, and the centroid table stays broadcast."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    centroids = kmeans_centroids(corpus, id_col, vec_col, n_clusters, n_iters=n_iters)
    bc = spark.sparkContext.broadcast(centroids)

    def assign_one(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            d2 = np.round(((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "_cluster": d2.argmin(axis=1).astype("int32"),
                }
            )
            out[vec_col] = list(pdf[vec_col])
            yield out

    schema = f"{id_col} long, _cluster int, {vec_col} array<float>"
    c_assigned = corpus.select(id_col, vec_col).mapInPandas(assign_one, schema=schema)

    def assign_probes(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            d2 = np.round(((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            # stable sort: equal rounded distances probe the lowest id first
            probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe].astype("int32")
            out = pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "_cluster": probes.reshape(-1),
                }
            )
            out[vec_col] = [v_ for v_ in pdf[vec_col] for _ in range(n_probe)]
            yield out

    q_probed = queries.select(id_col, vec_col).mapInPandas(assign_probes, schema=schema)

    q = q_probed.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "_cluster"
    )
    c = c_assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "_cluster"
    )
    scored = (
        q.join(c, "_cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
        )
        .distinct()  # a neighbor reachable via several probed lists scores once
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    n_planes: int = 4,
    n_tables: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs (cos ≥ threshold, id_a < id_b).

    Candidates come from multi-table SRP buckets — an equi-join on
    (table, bucket), never an all-pairs scan — then exact cosine
    verifies each candidate in-bucket. The bucket id is the shuffle
    key, so at corpus scale cost is ~n_tables/2^n_planes of all-pairs.

    Recall: identical vectors share every bucket in every table, so
    exact copies are always found. A pair at angle θ survives one
    table with (1-θ/π)^n_planes; n_tables independent tables give
    1-(1-(1-θ/π)^p)^T ≈ 0.9996 at cos=0.99 with the defaults.

    In-bucket scoring is one numpy gemm per (table, bucket) block
    (``applyInPandas``) that SELECTS pairs at ``threshold − 1e-12``;
    survivors are rescored with the exact fold ``cosine`` and filtered
    at the true threshold — the brute_force_topk_pandas hybrid
    contract, so emitted values stay bit-equal to the fold/oracle
    while the per-candidate interpreted fold (and the vector-carrying
    candidate DISTINCT) disappear: measured minutes → seconds on
    duplicate-dense corpora where candidates are quadratic in the dup
    count. Degenerate-bucket skew remains the operator's documented
    risk: a block's gemm is |bucket|² floats, so cap bucket size or
    add planes if one bucket swallows the corpus.
    """
    dim = observed_dim(corpus, vec_col)
    tables = F.array(
        *[srp_bucket(F.col("_v"), n_planes, table, dim) for table in range(n_tables)]
    )
    staged = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_tb", tables)
        .select("_id", "_v", F.posexplode("_tb").alias("_table", "_bucket"))
    )

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {"_id_a": pd.Series(dtype="int64"),
                 "_id_b": pd.Series(dtype="int64")}
            )
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms = np.where(norms == 0, 1.0, norms)  # zero vectors never pass
        sm = (x / norms) @ (x / norms).T
        ids = pdf["_id"].to_numpy()
        ii, jj = np.nonzero(sm >= threshold - 1e-12)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame({"_id_a": ids[ii][keep], "_id_b": ids[jj][keep]})

    cands = (
        staged.groupBy("_table", "_bucket")
        .applyInPandas(block_pairs, "_id_a long, _id_b long")
        .distinct()  # a pair colliding in several tables is scored once
    )
    va = corpus.select(F.col(id_col).alias("_id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("_id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(va, "_id_a")
        .join(vb, "_id_b")
        .select(
            "_id_a",
            "_id_b",
            cosine(F.col("_va"), F.col("_vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def pq_train_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 4,
    k: int = 16,
    n_iters: int = 2,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` contiguous subspaces, train an independent deterministic
    k-means codebook per subspace (same seeding/rounding discipline as
    the IVF coarse quantizer above), and encode every vector as its
    nearest code per subspace plus the quantization error it incurs.

    The result is the PQ compression table: 64 floats become ``m``
    small ints (here 4 x 4 bits), the codebooks are m*k*(d/m) driver
    metadata, and ADC search composes with the IVF probes (score
    candidates by summing per-subspace distance-table lookups instead
    of touching raw vectors). Encoding is one linear mapInPandas pass
    per subspace — nothing quadratic anywhere.

    Cross-engine determinism: squared distances round to 6 dp before
    the argmin (ties -> lowest code), identical to kmeans_centroids,
    so a SQL oracle unrolling the same iterations reproduces every
    code and every error term exactly."""
    codebooks = pq_codebooks(corpus, id_col, vec_col, m=m, k=k, n_iters=n_iters)
    return pq_encode(corpus, id_col, vec_col, codebooks)


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 4,
    k: int = 16,
    n_iters: int = 2,
) -> list:
    """Train the ``m`` per-subspace codebooks (deterministic k-means on
    each contiguous slice). Returns a list of k x (dim/m) numpy arrays
    — driver-sized metadata, like the IVF centroid table.

    All m codebooks train FUSED: one seed collect, then per iteration
    ONE mapInPandas assignment pass emitting (sub, cluster, subvector)
    for every subspace and ONE codegen mean aggregate over
    (sub, cluster, dim) — m times fewer jobs than training each
    subspace separately, with arithmetic identical to the per-subspace
    ``kmeans_centroids`` (same id-stride seeds, same 6 dp-rounded
    assignment distances, same 6 dp-rounded means), so the SQL oracle
    that unrolls per-subspace k-means still matches bit-for-bit."""
    import numpy as np

    dim = corpus.select(F.size(vec_col)).first()[0]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    n = corpus.count()
    step = max(n // k, 1)
    seed_rows = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    seeds = np.array([r[0] for r in seed_rows], dtype=np.float64)
    books = [seeds[:, s * sub : (s + 1) * sub].copy() for s in range(m)]

    spark = corpus.sparkSession
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(books)

        def assign(batches):
            import pandas as pd

            bks = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                frames = []
                for s, cents in enumerate(bks):
                    vs = v[:, s * sub : (s + 1) * sub]
                    d2 = np.round(
                        ((vs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6
                    )
                    frames.append(
                        pd.DataFrame(
                            {
                                "_sub": np.int32(s),
                                "_cluster": d2.argmin(axis=1).astype("int32"),
                                "_sv": list(vs),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        assigned = corpus.select(vec_col).mapInPandas(
            assign, schema="_sub int, _cluster int, _sv array<double>"
        )
        means = (
            assigned.select("_sub", "_cluster", F.posexplode("_sv").alias("_d", "_x"))
            .groupBy("_sub", "_cluster", "_d")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_books = [b.copy() for b in books]
        for r in means:
            new_books[r["_sub"]][r["_cluster"], r["_d"]] = r["_m"]
        books = [np.round(b, 6) for b in new_books]
    return books


def _fused_ivf_pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_clusters: int,
    n_iters: int,
    m: int,
    n_codes: int,
    pq_iters: int,
) -> tuple:
    """Train the IVF coarse centroids AND the ``m`` PQ subspace
    codebooks in one fused loop (guide §1.2 — fewer passes over the
    data): the m+1 quantizers are mutually independent given each one's
    previous-round centroids, so every round is ONE mapInPandas
    assignment pass emitting (space, cluster, subvector) rows — space
    -1 carries the full vector for the coarse quantizer, spaces 0..m-1
    the PQ slices — and ONE codegen mean aggregate + collect.

    Arithmetic per space is identical to ``kmeans_centroids`` /
    ``pq_codebooks`` run separately: same id-stride seeds, same 6 dp
    rounded assignment distances with argmin-ties-to-lowest-id, same
    6 dp rounded means (the rounding absorbs summation-order noise, the
    same tolerance the unfused trainers already rely on), so oracles
    that unroll the quantizers separately still match bit-for-bit.

    Driver-action census: 1 count + 1 seed collect (2 when the coarse
    and PQ widths differ) + max(n_iters, pq_iters) mean collects —
    versus (2 + n_iters) + (3 + pq_iters) for the unfused pair, and
    every saved action is a saved full corpus scan at cluster scale.

    Returns ``(coarse_centroids, codebooks)``."""
    import numpy as np

    spark = corpus.sparkSession
    n = corpus.count()

    def seed_mat(k: int):
        step = max(n // k, 1)
        rows = (
            corpus.select(id_col, vec_col)
            .filter(F.pmod(F.col(id_col), F.lit(step)) == 0)
            .orderBy(id_col)
            .limit(k)
            .select(vec_col)
            .collect()
        )
        return np.array([r[0] for r in rows], dtype=np.float64)

    coarse = seed_mat(n_clusters)
    seeds_p = coarse if n_codes == n_clusters else seed_mat(n_codes)
    dim = coarse.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [seeds_p[:, s * sub : (s + 1) * sub].copy() for s in range(m)]

    for it in range(max(n_iters, pq_iters)):
        do_c, do_p = it < n_iters, it < pq_iters
        bc = spark.sparkContext.broadcast(
            (coarse if do_c else None, books if do_p else None)
        )

        def assign(batches):
            import pandas as pd

            cents, bks = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                frames = []
                if cents is not None:
                    d2 = np.round(
                        ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6
                    )
                    frames.append(
                        pd.DataFrame(
                            {
                                "_space": np.int32(-1),
                                "_cluster": d2.argmin(axis=1).astype("int32"),
                                "_sv": list(v),
                            }
                        )
                    )
                if bks is not None:
                    for s, cb in enumerate(bks):
                        vs = v[:, s * sub : (s + 1) * sub]
                        d2 = np.round(
                            ((vs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2), 6
                        )
                        frames.append(
                            pd.DataFrame(
                                {
                                    "_space": np.int32(s),
                                    "_cluster": d2.argmin(axis=1).astype("int32"),
                                    "_sv": list(vs),
                                }
                            )
                        )
                yield pd.concat(frames, ignore_index=True)

        assigned = corpus.select(vec_col).mapInPandas(
            assign, schema="_space int, _cluster int, _sv array<double>"
        )
        means = (
            assigned.select("_space", "_cluster", F.posexplode("_sv").alias("_d", "_x"))
            .groupBy("_space", "_cluster", "_d")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_c = coarse.copy()
        new_b = [b.copy() for b in books]
        for r in means:
            if r["_space"] < 0:
                new_c[r["_cluster"], r["_d"]] = r["_m"]
            else:
                new_b[r["_space"]][r["_cluster"], r["_d"]] = r["_m"]
        if do_c:
            coarse = np.round(new_c, 6)
        if do_p:
            books = [np.round(b, 6) for b in new_b]
    return coarse, books


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks: list
) -> DataFrame:
    """Encode every vector against pre-trained codebooks in ONE linear
    mapInPandas pass: each Arrow batch emits the (id, sub, code, err_d2)
    rows for ALL ``m`` subspaces — the per-subspace slice, 6 dp distance
    rounding and argmin are computed independently per subspace on the
    in-memory batch, so every emitted value is bit-identical to the
    former one-pass-per-subspace plan while the corpus is scanned (and
    crosses the Arrow boundary) once instead of ``m`` times."""
    import numpy as np

    m = len(codebooks)
    sub = codebooks[0].shape[1]
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def op(batches):
        import pandas as pd

        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
            frames = []
            for s, cents_ in enumerate(books):
                vs = v[:, s * sub : (s + 1) * sub]
                d2 = ((vs[:, None, :] - cents_[None, :, :]) ** 2).sum(axis=2)
                d2 = np.round(d2, 6)  # argmin ties -> lowest code
                code = d2.argmin(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "sub": np.int32(s),
                            "code": code.astype("int32"),
                            "err_d2": d2[np.arange(len(code)), code],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return corpus.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, sub int, code int, err_d2 double"
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    n_clusters: int = 16,
    n_probe: int = 6,
    n_iters: int = 2,
    m: int = 4,
    n_codes: int = 16,
    pq_iters: int = 2,
) -> DataFrame:
    """IVF-PQ with ASYMMETRIC DISTANCE COMPUTATION — the full
    trillion-scale ANN architecture: the coarse quantizer restricts
    each query to its ``n_probe`` inverted lists, and candidates are
    scored WITHOUT touching raw vectors — each query precomputes a
    distance TABLE (m x n_codes integer micro-units, one squared
    distance per codebook entry) and a candidate's approximate
    distance is the SUM of m table lookups keyed by its stored codes.

    Scale shape: raw vectors are read exactly twice (train+encode, both
    linear); search-time state per query is the m*n_codes table (64
    ints here) joined as a broadcast; scoring is a pure equi-join +
    integer-sum aggregate over (pair, subspace) rows. Distances are
    integer micro-units end-to-end, so ranking has no float-summation
    hazard and a SQL oracle reproduces every rank exactly."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # fused trainer: one assignment pass + one mean collect per round
    # covers the coarse quantizer AND all m subspace codebooks
    coarse, codebooks = _fused_ivf_pq_train(
        corpus,
        id_col,
        vec_col,
        n_clusters=n_clusters,
        n_iters=n_iters,
        m=m,
        n_codes=n_codes,
        pq_iters=pq_iters,
    )
    bc_coarse = spark.sparkContext.broadcast(coarse)

    def assign_one(batches):
        cents = bc_coarse.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            d2 = np.round(((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "_cluster": d2.argmin(axis=1).astype("int32"),
                }
            )

    c_assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign_one, schema=f"{id_col} long, _cluster int"
    )

    def assign_probes(batches):
        cents = bc_coarse.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            d2 = np.round(((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe].astype("int32")
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "_cluster": probes.reshape(-1),
                }
            )

    q_probed = queries.select(id_col, vec_col).mapInPandas(
        assign_probes, schema=f"{id_col} long, _cluster int"
    )

    enc = pq_encode(corpus, id_col, vec_col, codebooks).select(
        F.col(id_col).alias("neighbor_id"), "sub", "code"
    )
    bc_books = spark.sparkContext.broadcast(codebooks)
    sub_dim = codebooks[0].shape[1]

    def dist_tables(batches):
        books = bc_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            frames = []
            for s, cents in enumerate(books):
                qs = v[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = np.round(((qs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
                unats = np.rint(d2 * 1_000_000).astype("int64")
                n, kk = unats.shape
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(pdf[id_col].to_numpy(), kk),
                            "sub": np.int32(s),
                            "code": np.tile(np.arange(kk, dtype="int32"), n),
                            "dist_unats": unats.reshape(-1),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    dtab = queries.select(id_col, vec_col).mapInPandas(
        dist_tables, schema="query_id long, sub int, code int, dist_unats long"
    )

    pairs = (
        q_probed.select(F.col(id_col).alias("query_id"), "_cluster")
        .join(c_assigned.withColumnRenamed(id_col, "neighbor_id"), "_cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        pairs.join(enc, "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dist_unats").alias("adc_unats"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_unats", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_unats", "rank")
    )


def dbscan_labels(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    eps_cos: float,
    min_pts: int,
    n_planes: int = 4,
    n_tables: int = 6,
) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) over the SRP candidate ε-graph:
    density clustering of an embedding corpus without an all-pairs
    distance matrix.

    The ε-neighborhood graph is ``cosine_near_dup_pairs`` — SRP-bucket
    candidate generation (equi-join on (table, bucket)) with exact
    in-bucket cosine ≥ ``eps_cos`` verification — so the graph this
    clusters is the LSH candidate graph, deterministically derived on
    any engine that replays the integer-hash hyperplanes (the oracle
    does). Nodes with ≥ ``min_pts`` graph neighbors are CORE; core
    components come from the log-diameter large/small-star operator;
    non-core nodes adjacent to a core become BORDER, attached to the
    smallest component label among their core neighbors (the
    deterministic resolution of DBSCAN's classic border-assignment
    ambiguity); everything else is NOISE.

    Returns (node, role, comp): role ∈ {core, border, noise}; comp is
    the component's minimum core id, or -1 for noise.

    Scale shape: bucket equi-join for candidates, one degree
    aggregate, CC over the (much smaller) core-core graph, one
    broadcast-size join for borders — no stage touches all pairs.
    """
    from .dedup import connected_components_star

    ids = corpus.select(F.col(id_col).alias("node"))
    # localCheckpoint: the ε-graph feeds FIVE consumers (degree, core
    # set, core-core CC, border attachment, noise anti-join); without
    # truncation each one would recompute SRP bucketing + cosine
    # verification over the corpus. The edge set is the sparse graph,
    # not the data — bounded and safe to materialize.
    edges = (
        cosine_near_dup_pairs(
            corpus, id_col, vec_col, eps_cos, n_planes=n_planes, n_tables=n_tables
        )
        .select("_id_a", "_id_b")
        .localCheckpoint()
    )
    sym = edges.union(
        edges.select(F.col("_id_b").alias("_id_a"), F.col("_id_a").alias("_id_b"))
    )
    deg = sym.groupBy(F.col("_id_a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    core = deg.filter(F.col("deg") >= min_pts).select("node").localCheckpoint()
    core_edges = (
        edges.join(
            core.select(F.col("node").alias("_id_a")), "_id_a", "left_semi"
        ).join(core.select(F.col("node").alias("_id_b")), "_id_b", "left_semi")
    )
    cc = connected_components_star(core_edges)
    isolated = core.join(cc.select("node"), "node", "left_anti").withColumn(
        "comp", F.col("node")
    )
    core_lab = cc.unionByName(isolated).withColumn("role", F.lit("core"))
    border_lab = (
        sym.withColumnRenamed("_id_a", "src")
        .withColumnRenamed("_id_b", "node")
        .join(core_lab.select("node", "comp"), "node", "inner")  # dst is core
        .select(F.col("src").alias("node"), "comp")
        .join(core.select("node"), "node", "left_anti")  # src itself non-core
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
        .withColumn("role", F.lit("border"))
    )
    labeled = core_lab.unionByName(border_lab)
    noise = (
        ids.join(labeled.select("node"), "node", "left_anti")
        .withColumn("comp", F.lit(-1).cast("long"))
        .withColumn("role", F.lit("noise"))
    )
    return labeled.unionByName(noise)


def srp_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_planes: int = 4,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate top-k with multi-probe queries: the corpus is
    indexed ONCE per table (single bucket), while each query probes
    its bucket plus the weakest-bit flip (srp_probe_buckets) — the
    recall of ~2× the tables at the index cost of half. Candidates
    dedup across (table, probe) before scoring."""
    dim = observed_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn(
        "_tables",
        F.array(
            *[srp_bucket(F.col("_cv"), n_planes, t, dim) for t in range(n_tables)]
        ),
    ).select(
        "neighbor_id", "_cv", F.posexplode("_tables").alias("_table", "_bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    probes = None
    for t in range(n_tables):
        leg = q.select(
            "query_id",
            "_qv",
            F.lit(t).alias("_table"),
            F.explode(
                srp_probe_buckets(F.col("_qv"), n_planes, t, dim)
            ).alias("_bucket"),
        )
        probes = leg if probes is None else probes.unionByName(leg)
    scored = (
        probes.join(c, ["_table", "_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .distinct()
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def kmeans_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: "object"
) -> DataFrame:
    """Nearest-centroid assignment (broadcast k×d matrix, one numpy
    matmul per Arrow batch). Distances are rounded to 6 dp with ties
    to the lowest cluster id — the same contract as
    :func:`kmeans_centroids`, so a SQL twin reproduces every label."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            d2 = np.round(((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "_cluster": d2.argmin(axis=1).astype("int32"),
                }
            )
            out[vec_col] = list(pdf[vec_col])
            yield out

    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, _cluster int, {vec_col} array<float>"
    )


def semdedup_flags(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    n_clusters: int = 16,
    n_iters: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): k-means the embedding space, then
    inside each cluster drop every vector that has a LOWER-id neighbor
    with cosine ≥ ``threshold``. Returns (id, _cluster, _dropped).

    Scale shape: the quadratic is confined to clusters — the paper's
    own trick — so cost is Σ|c|² with k chosen ∝ corpus size; the
    cluster id is the one shuffle/join key, the centroid table stays
    k×d broadcast metadata, and the keep/drop rule is a bounded
    self-join plus a distinct, never a global sort."""
    cents = kmeans_centroids(corpus, id_col, vec_col, n_clusters, n_iters=n_iters)
    assigned = kmeans_assign(corpus, id_col, vec_col, cents)

    # The pair stage is an exact-order numpy twin of the Column fold
    # (the charlm-trap cure, SCALE.md round 7): an interpreted
    # zip_with/aggregate dot per PAIR costs Θ(pairs·d) lambda
    # evaluations — 20.1M in-cluster pairs at sf1.0 measured 112s —
    # while one applyInPandas per cluster vectorizes the same
    # arithmetic. Bit-parity with the SQL oracle's left-to-right
    # double fold holds because each float32×float32 product is exact
    # in double (≤48-bit mantissa) and ``np.cumsum`` accumulates
    # strictly left-to-right (no pairwise summation, unlike np.sum),
    # so dot, norm = sqrt(fold(v·v)), and the cos ≥ threshold decision
    # are all bit-identical to the previous Column-expression form.
    import numpy as np
    import pandas as pd

    def drop_in_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        n = len(ids)
        d = v.shape[1] if v.ndim == 2 else 0
        # zero-width vectors: fold-from-0.0 gives dot = 0, norm = 0,
        # cos = 0/0 = NaN — which the pinned NaN rule below counts as a
        # hit, exactly like the previous Column-expression form (the
        # cumsum path would IndexError on axis width 0 instead)
        nrm = (
            np.sqrt(np.cumsum(v * v, axis=1)[:, -1]) if d else np.zeros(n)
        )
        dropped_mask = np.zeros(n, dtype=bool)
        # i-block sized to a fixed byte budget, INDEPENDENT of d — the
        # previous (block, n, d) product buffer could reach
        # block·|cluster|·d·8 bytes on a large cluster at high dim
        # (e.g. 256·100k·512·8 ≈ 100 GB; ADVICE r7). Peak live set per
        # block is ~3 (block, n) float64 buffers (accumulator, the
        # broadcast product temp, cos) plus the bool hit matrix, so the
        # divisor budgets 4 eight-byte buffers per cell.
        block = max(1, (64 << 20) // max(1, n * 32))
        for s in range(0, n, block):
            e = min(s + block, n)
            # strictly-sequential per-dimension accumulation: the very
            # same left-to-right double additions as the previous
            # cumsum-over-axis-2 fold (0.0 + x == x exactly), so the
            # dots stay bit-identical to the SQL oracle's fold.
            dots = np.zeros((e - s, n))
            for k in range(d):
                dots += v[s:e, k, None] * v[None, :, k]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nrm[s:e, None] * nrm[None, :])
            # NaN-ordering parity: Spark and DuckDB order NaN ABOVE all
            # doubles, so the Column filter `cos >= t` was TRUE for a
            # 0/0 pair (two zero-norm vectors); numpy's NaN comparison
            # is False — re-add NaN as a hit to keep decisions
            # bit-identical on degenerate embeddings.
            hit = (ids[s:e, None] < ids[None, :]) & (
                (cos >= threshold) | np.isnan(cos)
            )
            dropped_mask |= hit.any(axis=0)
        return pd.DataFrame({id_col: ids[dropped_mask]})

    dropped = (
        assigned.select(id_col, vec_col, "_cluster")
        .groupBy("_cluster")
        .applyInPandas(drop_in_cluster, schema=f"{id_col} long")
        .withColumn("_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .withColumn("_dropped", F.coalesce("_dropped", F.lit(0)))
        .select(id_col, "_cluster", "_dropped")
    )
