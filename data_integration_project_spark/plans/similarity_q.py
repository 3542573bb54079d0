"""Similarity-search queries over the embeddings table: exact
brute-force cosine top-k (oracle-checked — the fold arithmetic is
bit-identical across engines) and the SRP-bucketed approximate variant
(rows-only check; recall is unit-tested against the exact baseline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from . import text_kit as K
from .catalog import query, t

# left-to-right double fold, matching functions.vectors.dot exactly
_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos('q.qv', 'c.embedding')} AS cos_sim
      FROM q, embeddings c
      WHERE q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for every 100th vector as query. Brute-force
    cross join + per-query window; at scale the corpus side partitions
    by block and each block emits a local top-k merged per query (or
    swap in the SRP variant below)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    return S.brute_force_topk(queries, e, "vec_id", "embedding", k=5)


@query(
    "ann_context_packing",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos('q.qv', 'c.embedding')} AS cos_sim
      FROM q, embeddings c
      WHERE q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ),
    toks AS (
      SELECT doc_id,
             len({K.TOKENS_SQL}) AS n_tokens
      FROM documents
    ),
    j AS (
      SELECT r.query_id, r.neighbor_id, r.rank, tk.n_tokens,
             SUM(tk.n_tokens) OVER (PARTITION BY r.query_id
                                    ORDER BY r.rank) AS cum
      FROM ranked r
      JOIN toks tk ON tk.doc_id = r.neighbor_id
      WHERE r.rank <= 20
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs_packed,
           CAST(MAX(cum) AS BIGINT) AS tokens_packed,
           CAST(MAX(rank) AS BIGINT) AS last_rank,
           CAST(SUM(rank * neighbor_id) AS BIGINT) AS packed_checksum
    FROM j WHERE cum <= 256 GROUP BY query_id
    """,
)
def ann_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG CONTEXT ASSEMBLY — the serving-side composition a retrieval
    pipeline runs after top-k: retrieve the 20 nearest documents per
    query (exact cosine, total-order tie-break), then PACK them into a
    256-token context budget in rank order — a running-sum prefix
    (token counts are ≥ 1, so the cumulative sum is strictly monotone
    and "stop at the budget" is exactly a prefix filter; the FIFO
    running-sum-clamp pattern). Per query: how many documents fit, the
    exact tokens used, the deepest rank admitted, and a rank-weighted
    id checksum that moves if packing order or membership drifts.

    Scale shape: the top-k stage is the [[ann_cosine_topk]] plan (at
    scale, the SRP/IVF variants drop in — identical downstream
    contract); the packing stage joins the |queries|·k result (tiny) to
    the document token dim and runs one window per query — the heavy
    side never reshuffles, and the budget arithmetic is exact
    integers."""
    from ..functions import text as X

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    )
    # BLAS pandas retrieval (one matmul per corpus batch): only ranks
    # flow downstream, and rank order matches the fold oracle through
    # the shared total tie-break (the ann_topk_pandas contract); the
    # fold path measured 20x slower at sf1.0 on this 20-deep panel
    topk = S.brute_force_topk_pandas(
        queries, e, "vec_id", "embedding", k=20
    ).select("query_id", "neighbor_id", "rank")
    toks = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    j = (
        F.broadcast(topk)
        .join(toks, "neighbor_id")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .where(F.col("cum") <= 256)
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_packed"),
        F.max("cum").cast("long").alias("tokens_packed"),
        F.max("rank").cast("long").alias("last_rank"),
        F.sum(F.col("rank") * F.col("neighbor_id"))
        .cast("long")
        .alias("packed_checksum"),
    )


@query(
    "embeddings_bitext_mining",
    oracle=f"""
    WITH A AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
    B AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
    ab AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {_cos('a.embedding', 'b.embedding')} AS cs
      FROM A a, B b
    ),
    ra AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                  row_number() OVER (PARTITION BY ia
                                     ORDER BY cs DESC, ib) AS rk
           FROM ab),
    rb AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                  row_number() OVER (PARTITION BY ib
                                     ORDER BY cs DESC, ia) AS rk
           FROM ab),
    besta AS (SELECT ia, ib AS best_b, c AS c_ab FROM ra WHERE rk = 1),
    bestb AS (SELECT ib, ia AS best_a FROM rb WHERE rk = 1),
    s4a AS (SELECT ia, SUM(c) AS s4 FROM ra WHERE rk <= 4 GROUP BY ia),
    s4b AS (SELECT ib, SUM(c) AS s4 FROM rb WHERE rk <= 4 GROUP BY ib)
    SELECT ba.ia AS id_a, ba.best_b AS id_b,
           ba.c_ab AS cos_ppb,
           CAST((ba.c_ab * 8 * 1000000000) // (sa.s4 + sb.s4) AS BIGINT)
             AS margin_ppb
    FROM besta ba
    JOIN bestb bb ON bb.ib = ba.best_b AND bb.best_a = ba.ia
    JOIN s4a sa ON sa.ia = ba.ia
    JOIN s4b sb ON sb.ib = ba.best_b
    WHERE sa.s4 + sb.s4 > 0
      AND (ba.c_ab * 8 * 1000000000) // (sa.s4 + sb.s4) > 1100000000
    """,
)
def embeddings_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix parallel-corpus miner): the two sides are the
    label-parity halves of the embedding table; a pair aligns iff each
    is the other's nearest neighbor (MUTUAL best, the reciprocal filter
    that kills hubness asymmetry) AND the RATIO MARGIN — cosine over
    the mean of both sides' top-4 neighborhood cosines — clears 1.10,
    which rejects points that are merely in dense regions. Margins are
    computed in exact integer parts-per-billion: each cosine rounds
    once to an int (ranking stays on the RAW double, so rank order
    matches the exact top-k), the 4-neighbor sums are exact integer
    adds (double summation order would differ between engines), and the
    margin is one floored integer division.

    Scale shape: both directions run in ONE corpus pass
    (operators/similarity.mutual_topk_pandas — each Arrow batch is
    sliced by label parity and scored against the opposite side's
    broadcast query matrix; a parity filter prunes nothing at the
    parquet level, so the former two directional passes each read
    every page); the per-direction top-4 table is materialized once
    (localCheckpoint — its four margin-stage consumers would otherwise
    each replay the BLAS pass) and the mutual join and margin
    arithmetic run on |A|+|B| best-match rows. Everything after the
    top-k is tiny. The BLAS pandas path: the fold-based plan would pay
    |A|·|B|·d interpreted lambda evals — measured minutes at sf1.0 vs
    seconds for BLAS; ppb rounding absorbs the ~1e-15 summation-order
    difference (the ann_topk_pandas contract)."""
    e = t(spark, sf_dir, "embeddings")
    tk = (
        S.mutual_topk_pandas(e, "vec_id", "embedding", F.col("label") % 2 == 1, k=4)
        .withColumn("c", F.round(F.col("cos_sim") * 1000000000).cast("long"))
        .localCheckpoint()
    )
    ta = tk.filter(F.col("dir") == 0).drop("dir")
    tb = tk.filter(F.col("dir") == 1).drop("dir")
    return _mine_margin_pairs(ta, tb)


def _mine_margin_pairs(ta: DataFrame, tb: DataFrame) -> DataFrame:
    """Artetxe-Schwenk margin mining from per-direction top-4 tables
    ``(query_id, neighbor_id, c, rank)`` (c = cosine in exact integer
    ppb): mutual-best pairs whose ratio margin — cosine over the mean
    of both sides' top-4 neighborhood cosines — clears 1.10, in exact
    integer arithmetic. Shared by the exact and SRP-bucketed miners;
    everything here runs on |A|+|B| best-match rows."""
    besta = ta.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("best_b"),
        F.col("c").alias("c_ab"),
    )
    bestb = tb.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("ib"), F.col("neighbor_id").alias("best_a")
    )
    s4a = ta.groupBy("query_id").agg(F.sum("c").alias("s4a"))
    s4b = tb.groupBy("query_id").agg(F.sum("c").alias("s4b"))
    m = (
        besta.join(
            bestb,
            (F.col("ib") == F.col("best_b"))
            & (F.col("best_a") == F.col("id_a")),
        )
        .join(s4a, F.col("query_id") == F.col("id_a"))
        .drop("query_id")
        .join(s4b, F.col("query_id") == F.col("best_b"))
        # guard the degenerate all-negative neighborhood (a zero
        # denominator errors in one engine and NULLs in the other)
        .where(F.col("s4a") + F.col("s4b") > 0)
        .withColumn(
            "margin_ppb",
            F.expr("(c_ab * 8 * 1000000000) div (s4a + s4b)"),
        )
        .where(F.col("margin_ppb") > 1100000000)
    )
    return m.select(
        "id_a",
        F.col("best_b").alias("id_b"),
        F.col("c_ab").alias("cos_ppb"),
        "margin_ppb",
    )


def _dlit(v: float) -> str:
    """DOUBLE literal for DuckDB: repr plus an exponent marker — a bare
    decimal literal (even inside CAST([...] AS DOUBLE[])) materializes
    as DECIMAL first and loses the exact round-trip; an 'e'-form
    literal types as DOUBLE natively."""
    r = repr(v)
    return r if "e" in r or "E" in r else r + "e0"


def _sql_srp_planes_values(n_planes: int, n_tables: int, dim: int = 64) -> str:
    """VALUES rows (_table, _pw, comps) carrying the md5-derived
    hyperplane components as literal DOUBLE lists — the DuckDB twin of
    ``srp_bucket``'s driver-side plane literals. ``repr`` emits the
    shortest round-trip decimal, which both engines parse to the
    identical double, so buckets are bit-identical by construction.
    (The previous affine-arithmetic planes were shifts of one lattice;
    see operators/similarity.md5_plane_components.)"""
    from ..operators.similarity import md5_plane_components

    rows = []
    for table in range(n_tables):
        for p in range(n_planes):
            comps = md5_plane_components(table, p)[:dim]
            lst = "[" + ", ".join(_dlit(v) for v in comps) + "]"
            rows.append(f"({table}, {1 << p}, {lst})")
    return ",\n      ".join(rows)


def _sql_srp_buck_cte(src: str, vec: str, n_planes: int, n_tables: int) -> str:
    """planes/dots/buck CTE fragment: per-(vector, table) SRP bucket id
    via SUM of power-of-two bits over the plane dots. Fold order and
    multiplication order match srp_bucket exactly."""
    dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len(e.{vec})+1), "
        f"i -> CAST(e.{vec}[i] AS DOUBLE) * p.comps[i])), (x, y) -> x + y)"
    )
    return f"""
    planes AS (
      SELECT * FROM (VALUES
      {_sql_srp_planes_values(n_planes, n_tables)}
      ) AS p(_table, _pw, comps)
    ),
    dots AS (
      SELECT e.vec_id, p._table, p._pw, {dot} AS dot
      FROM {src} e CROSS JOIN planes p
    ),
    buck AS MATERIALIZED (
      SELECT vec_id, _table,
             CAST(SUM(CASE WHEN dot > 0 THEN _pw ELSE 0 END) AS INTEGER)
               AS _bucket
      FROM dots GROUP BY vec_id, _table
    )"""



_BITEXT_SRP_PLANES, _BITEXT_SRP_TABLES = 4, 4

#: exact-leg CTE block shared wording with embeddings_bitext_mining's
#: oracle (same fixture, same arithmetic) — emits pairs_exact(ia, ib)
_BITEXT_EXACT_PAIRS_SQL = f"""
    A AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
    B AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
    ab AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {_cos('a.embedding', 'b.embedding')} AS cs
      FROM A a, B b
    ),
    ra AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                  row_number() OVER (PARTITION BY ia
                                     ORDER BY cs DESC, ib) AS rk
           FROM ab),
    rb AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                  row_number() OVER (PARTITION BY ib
                                     ORDER BY cs DESC, ia) AS rk
           FROM ab),
    besta AS (SELECT ia, ib AS best_b, c AS c_ab FROM ra WHERE rk = 1),
    bestb AS (SELECT ib, ia AS best_a FROM rb WHERE rk = 1),
    s4a AS (SELECT ia, SUM(c) AS s4 FROM ra WHERE rk <= 4 GROUP BY ia),
    s4b AS (SELECT ib, SUM(c) AS s4 FROM rb WHERE rk <= 4 GROUP BY ib),
    pairs_exact AS (
      SELECT ba.ia, ba.best_b AS ib
      FROM besta ba
      JOIN bestb bb ON bb.ib = ba.best_b AND bb.best_a = ba.ia
      JOIN s4a sa ON sa.ia = ba.ia
      JOIN s4b sb ON sb.ib = ba.best_b
      WHERE sa.s4 + sb.s4 > 0
        AND (ba.c_ab * 8 * 1000000000) // (sa.s4 + sb.s4) > 1100000000
    )
"""


@query(
    "embeddings_bitext_mining_srp",
    oracle=f"""
    WITH {_sql_srp_buck_cte("embeddings", "embedding",
                            _BITEXT_SRP_PLANES, _BITEXT_SRP_TABLES)},
    {_BITEXT_EXACT_PAIRS_SQL},
    cand AS (
      SELECT DISTINCT qa.vec_id AS ia, qb.vec_id AS ib
      FROM buck qa
      JOIN buck qb ON qa._table = qb._table AND qa._bucket = qb._bucket
      JOIN A a ON a.vec_id = qa.vec_id
      JOIN B b ON b.vec_id = qb.vec_id
    ),
    sc AS (
      SELECT cand.ia, cand.ib, {_cos('a.embedding', 'b.embedding')} AS cs
      FROM cand JOIN A a ON a.vec_id = cand.ia
                JOIN B b ON b.vec_id = cand.ib
    ),
    sra AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY ia
                                      ORDER BY cs DESC, ib) AS rk
            FROM sc),
    srb AS (SELECT ia, ib, CAST(round(cs * 1000000000) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY ib
                                      ORDER BY cs DESC, ia) AS rk
            FROM sc),
    sbesta AS (SELECT ia, ib AS best_b, c AS c_ab FROM sra WHERE rk = 1),
    sbestb AS (SELECT ib, ia AS best_a FROM srb WHERE rk = 1),
    ss4a AS (SELECT ia, SUM(c) AS s4 FROM sra WHERE rk <= 4 GROUP BY ia),
    ss4b AS (SELECT ib, SUM(c) AS s4 FROM srb WHERE rk <= 4 GROUP BY ib),
    pairs_srp AS (
      SELECT ba.ia, ba.best_b AS ib
      FROM sbesta ba
      JOIN sbestb bb ON bb.ib = ba.best_b AND bb.best_a = ba.ia
      JOIN ss4a sa ON sa.ia = ba.ia
      JOIN ss4b sb ON sb.ib = ba.best_b
      WHERE sa.s4 + sb.s4 > 0
        AND (ba.c_ab * 8 * 1000000000) // (sa.s4 + sb.s4) > 1100000000
    ),
    slots AS (
      SELECT COALESCE(SUM(x.na * y.nb), 0) AS n_cand_slots
      FROM (SELECT k._table, k._bucket, COUNT(*) AS na
            FROM buck k JOIN A a ON a.vec_id = k.vec_id
            GROUP BY k._table, k._bucket) x
      JOIN (SELECT k._table, k._bucket, COUNT(*) AS nb
            FROM buck k JOIN B b ON b.vec_id = k.vec_id
            GROUP BY k._table, k._bucket) y
        ON x._table = y._table AND x._bucket = y._bucket
    ),
    sizes AS (
      SELECT (SELECT COUNT(*) FROM A) * (SELECT COUNT(*) FROM B)
               AS n_all_pairs,
             (SELECT n_cand_slots FROM slots) AS n_cand_slots,
             (SELECT COUNT(*) FROM pairs_exact) AS n_pairs_exact,
             (SELECT COUNT(*) FROM pairs_srp) AS n_pairs_srp,
             (SELECT COUNT(*) FROM pairs_exact e
              JOIN pairs_srp s ON e.ia = s.ia AND e.ib = s.ib) AS n_common
    )
    SELECT CAST(n_all_pairs AS BIGINT) AS n_all_pairs,
           CAST(n_cand_slots AS BIGINT) AS n_cand_slots,
           CAST(n_cand_slots * 1000000 // n_all_pairs AS BIGINT)
             AS slot_ppm,
           CAST(n_pairs_exact AS BIGINT) AS n_pairs_exact,
           CAST(n_pairs_srp AS BIGINT) AS n_pairs_srp,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n_pairs_exact = 0 THEN 1000000
                     ELSE n_common * 1000000 // n_pairs_exact END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN n_pairs_srp = 0 THEN 1000000
                     ELSE n_common * 1000000 // n_pairs_srp END AS BIGINT)
             AS precision_ppm
    FROM sizes
    """,
)
def embeddings_bitext_mining_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BITEXT MINER'S 100 TB SCALE PATH, EXECUTED — not just named:
    [[embeddings_bitext_mining]]'s docstring points at SRP/IVF
    candidate generation as the drop-in for the brute-force top-4; this
    query RUNS the SRP-bucketed variant and reports its MUTUAL-BEST
    RECALL against the exact miner on the same fixture, mirroring how
    [[ann_srp_bucketed]] proves itself against [[ann_cosine_topk]].
    Candidates are pairs sharing an SRP bucket in ANY of 4 independent
    4-plane tables (md5-derived literal hyperplanes — the oracle
    rebuilds them bit-for-bit); margins, mutual-best, and the 1.10
    threshold run UNCHANGED on the candidate set (the shared
    _mine_margin_pairs core), so the only approximation is which pairs
    were ever scored. The one-row report carries the scale evidence: a
    scored-work fraction (slot_ppm — Σ per-block |A_b|·|B_b| over
    |A|·|B|, the pair slots the block gemms actually multiply) next to
    recall/precision vs the exact pair set, which is the curve a
    production miner tunes (more planes → fewer candidates, lower
    recall; more tables → the reverse).

    The exact leg rides along as the evaluation harness — at fixture
    scale it is the cheap side; at 100 TB it is exactly the thing the
    SRP leg exists to avoid, and recall is instead spot-checked on a
    sampled panel.

    Scale shape: bucketing is a map-side projection per (vector,
    table); candidate scoring is one numpy gemm per (table, bucket)
    block inside applyInPandas, emitting only per-side top-4 survivor
    pairs (tie-margin select, exact-fold rescore — the
    brute_force_topk_pandas hybrid contract; the oracle scores every
    candidate and must agree because top-4 over a superset of the true
    top-4 is the true top-4). The margin stage runs on ≤(|A|+|B|)·16
    survivor rows; no global windows anywhere."""
    from ..functions.vectors import dot

    e = t(spark, sf_dir, "embeddings")
    A = e.filter(F.col("label") % 2 == 0).select("vec_id", "embedding")
    B = e.filter(F.col("label") % 2 == 1).select("vec_id", "embedding")
    dim = S.observed_dim(e, "embedding")

    def bucketed(df: DataFrame, idn: str) -> DataFrame:
        tables = F.array(
            *[
                S.srp_bucket(
                    F.col("embedding"), _BITEXT_SRP_PLANES, tbl, dim
                )
                for tbl in range(_BITEXT_SRP_TABLES)
            ]
        )
        return df.select(
            F.col("vec_id").alias(idn), tables.alias("_tables")
        ).select(idn, F.posexplode("_tables").alias("_table", "_bucket"))

    # ---- block-gemm candidate pruning (the sf1.0 soak catch) --------
    # Scoring every distinct candidate with the interpreted fold was
    # quadratic-in-practice: 23M candidate pairs at sf1.0 cost 34s to
    # DISTINCT and ~90s to fold (139s query wall). Only each side's
    # TOP-4 ever matters to the margin stage, and top-4 is block-local:
    # a pair in a vector's true global top-4 outranks all but <4 pairs
    # in EVERY bucket containing it, so the union of per-block top-4s
    # (per row and per column) is a superset of both sides' true top-4
    # — and top-4 over a superset of the true top-4 IS the true top-4.
    # So: one numpy gemm per (table, bucket) block SELECTS survivors
    # (k-th score with a 1e-12 tie margin — the brute_force_topk_pandas
    # hybrid contract), and only the ~(|A|+|B|)·16 survivor pairs are
    # rescored in the fold's exact IEEE order. Mined pairs identical.
    ab_rows = (
        bucketed(A, "vid")
        .withColumn("_side", F.lit("a"))
        .unionByName(bucketed(B, "vid").withColumn("_side", F.lit("b")))
        .join(e.select(F.col("vec_id").alias("vid"), "embedding"), "vid")
    )

    def block_survivors(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["_side"] == "a"]
        b = pdf[pdf["_side"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame(
                {"ia": pd.Series(dtype="int64"), "ib": pd.Series(dtype="int64")}
            )
        xa = np.stack([np.asarray(v, dtype=np.float64) for v in a["embedding"]])
        xb = np.stack([np.asarray(v, dtype=np.float64) for v in b["embedding"]])
        # zero-norm guard (same as cosine_near_dup_pairs.block_pairs):
        # a zero vector must score 0 everywhere, not NaN-poison whole
        # rows/columns of the gemm and shift other vectors' kth cuts
        na = np.linalg.norm(xa, axis=1, keepdims=True)
        nb = np.linalg.norm(xb, axis=1, keepdims=True)
        sm = (xa / np.where(na == 0, 1.0, na)) @ (
            xb / np.where(nb == 0, 1.0, nb)
        ).T
        ids_a = a["vid"].to_numpy()
        ids_b = b["vid"].to_numpy()
        out_i, out_j = [], []
        # per-ROW top-4 (a-side neighborhoods), then per-COLUMN (b-side)
        for mat, is_rows in ((sm, True), (sm.T, False)):
            kk = min(4, mat.shape[1])
            kth = np.partition(mat, -kk, axis=1)[:, -kk]
            keep_i, keep_j = np.nonzero(mat >= (kth - 1e-12)[:, None])
            out_i.append(keep_i if is_rows else keep_j)
            out_j.append(keep_j if is_rows else keep_i)
        ii = np.concatenate(out_i)
        jj = np.concatenate(out_j)
        return pd.DataFrame({"ia": ids_a[ii], "ib": ids_b[jj]})

    cand = (
        ab_rows.groupBy("_table", "_bucket")
        .applyInPandas(block_survivors, "ia long, ib long")
        .distinct()
    )
    # per-vector norms factored out of the pair loop: sqrt(v·v) is a
    # pure per-vector value, so computing it once per side (|A|+|B|
    # folds) instead of twice per candidate (2·|cand| folds) keeps the
    # double expression tree — dot / (sqrt(x) * sqrt(y)) — identical to
    # the oracle's _cos while cutting the interpreted fold count 3×
    va = A.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("_va"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("_na"),
    )
    vb = B.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("_vb"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("_nb"),
    )
    # localCheckpoint (house discipline for reused sketch-sized panels):
    # the candidate scoring — the expensive fold-cosine pass — feeds
    # FOUR margin-stage consumers (best/top-4 per direction); without
    # materialization each consumer replays the join + fold (measured
    # 33s → 8s at sf0.1)
    scored = (
        cand.join(va, "ia")
        .join(vb, "ib")
        .select(
            "ia",
            "ib",
            (
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("cs"),
        )
        .withColumn("c", F.round(F.col("cs") * 1000000000).cast("long"))
        .localCheckpoint()
    )
    wa = Window.partitionBy("ia").orderBy(F.desc("cs"), F.asc("ib"))
    wb = Window.partitionBy("ib").orderBy(F.desc("cs"), F.asc("ia"))
    ta = (
        scored.withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= 4)
        .select(
            F.col("ia").alias("query_id"),
            F.col("ib").alias("neighbor_id"),
            "c",
            "rank",
        )
        .localCheckpoint()
    )
    tb = (
        scored.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= 4)
        .select(
            F.col("ib").alias("query_id"),
            F.col("ia").alias("neighbor_id"),
            "c",
            "rank",
        )
        .localCheckpoint()
    )
    pairs_srp = _mine_margin_pairs(ta, tb).select("id_a", "id_b")

    def exact_side(qs: DataFrame, corpus: DataFrame) -> DataFrame:
        # ≤ 4·|side| rows; materialized so the margin stage's three
        # consumers don't each replay the BLAS pass
        tk = S.brute_force_topk_pandas(qs, corpus, "vec_id", "embedding", k=4)
        return tk.withColumn(
            "c", F.round(F.col("cos_sim") * 1000000000).cast("long")
        ).localCheckpoint()

    pairs_exact = _mine_margin_pairs(
        exact_side(A, B), exact_side(B, A)
    ).select("id_a", "id_b")

    n_a = A.agg(F.count(F.lit(1)).alias("n_a"))
    n_b = B.agg(F.count(F.lit(1)).alias("n_b"))
    # scored-work metric: Σ over (table, bucket) of |A_b|·|B_b| — the
    # pair slots each block gemm actually multiplies (multi-table
    # re-finds counted, exactly like the compute is)
    sz_a = bucketed(A, "vid").groupBy("_table", "_bucket").agg(
        F.count(F.lit(1)).alias("na")
    )
    sz_b = bucketed(B, "vid").groupBy("_table", "_bucket").agg(
        F.count(F.lit(1)).alias("nb")
    )
    n_slots = (
        sz_a.join(sz_b, ["_table", "_bucket"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("n_cand_slots"))
        .na.fill({"n_cand_slots": 0})
    )
    n_e = pairs_exact.agg(F.count(F.lit(1)).alias("n_pairs_exact"))
    n_s = pairs_srp.agg(F.count(F.lit(1)).alias("n_pairs_srp"))
    n_c = pairs_exact.join(pairs_srp, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        n_a.crossJoin(n_b)
        .crossJoin(F.broadcast(n_slots))
        .crossJoin(F.broadcast(n_e))
        .crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(n_c))
        .select(
            (F.col("n_a") * F.col("n_b")).cast("long").alias("n_all_pairs"),
            F.col("n_cand_slots").cast("long"),
            F.expr("CAST((n_cand_slots * 1000000) DIV (n_a * n_b) AS BIGINT)")
            .alias("slot_ppm"),
            F.col("n_pairs_exact").cast("long"),
            F.col("n_pairs_srp").cast("long"),
            F.col("n_common").cast("long"),
            F.expr(
                "CAST(CASE WHEN n_pairs_exact = 0 THEN 1000000 "
                "ELSE (n_common * 1000000) DIV n_pairs_exact END AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(CASE WHEN n_pairs_srp = 0 THEN 1000000 "
                "ELSE (n_common * 1000000) DIV n_pairs_srp END AS BIGINT)"
            ).alias("precision_ppm"),
        )
    )


@query(
    "embeddings_matryoshka_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    full_r AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_cos('q.qv', 'c.embedding')} DESC, c.vec_id) AS rank
      FROM q, embeddings c WHERE q.query_id <> c.vec_id
    ),
    pref_r AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_cos('q.qv[1:16]', 'c.embedding[1:16]')} DESC,
                        c.vec_id) AS rank
      FROM q, embeddings c WHERE q.query_id <> c.vec_id
    ),
    f5 AS (SELECT query_id, neighbor_id, rank FROM full_r WHERE rank <= 5),
    p5 AS (SELECT query_id, neighbor_id, rank FROM pref_r WHERE rank <= 5),
    fa AS (
      SELECT f.query_id,
             MIN(CASE WHEN f.rank = 1 THEN f.neighbor_id END) AS full_top1,
             COUNT(p.neighbor_id) AS overlap_at_5
      FROM f5 f
      LEFT JOIN p5 p ON p.query_id = f.query_id
                    AND p.neighbor_id = f.neighbor_id
      GROUP BY f.query_id
    ),
    pa AS (
      SELECT query_id, neighbor_id AS prefix_top1 FROM p5 WHERE rank = 1
    )
    SELECT fa.query_id,
           CAST(fa.full_top1 AS BIGINT) AS full_top1,
           CAST(pa.prefix_top1 AS BIGINT) AS prefix_top1,
           CAST(fa.overlap_at_5 AS BIGINT) AS overlap_at_5,
           CAST(CASE WHEN fa.full_top1 = pa.prefix_top1
                THEN 1 ELSE 0 END AS INTEGER) AS top1_match
    FROM fa JOIN pa ON pa.query_id = fa.query_id
    """,
)
def embeddings_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA / TRUNCATABLE-EMBEDDING EVAL — the audit run before
    shipping prefix-truncated vectors (MRL-style embeddings serve the
    first d′ dims to cut index cost; the question is how much retrieval
    survives): for the standard query panel, rank the corpus by FULL
    64-dim cosine and by the 16-dim PREFIX cosine, then per query
    report top-1 ids under both, top-5 overlap, and whether top-1
    survives truncation. Rankings use the exact fold cosine with the
    total-order tie-break ([[ann_cosine_topk]]'s contract) so both
    engines agree on every rank, and only ids/counts — no floats — sit
    on the hash.

    Scale shape: two brute-force rank passes over the same panel (at
    100 TB each becomes the SRP/IVF candidate plan at its own
    dimensionality — prefix indexes are cheaper, which is the point);
    the overlap join runs on |queries|·5 rows."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    )
    # Round-9 (guide §4): both exact rank passes now ride the BLAS
    # pandas hybrid instead of the interpreted per-pair fold — output
    # BIT-EQUAL by that operator's select-then-exact-recompute contract
    # (the gemm only selects candidates; ranked values are recomputed
    # in the fold's IEEE order, tie-pinned by test). 12.5 s → 1.7 s
    # best-of-3 at sf0.1; ranks/ids identical, oracle green.
    full5 = S.brute_force_topk_pandas(
        queries, e, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id", "rank")
    q16 = queries.select("vec_id", F.slice("embedding", 1, 16).alias("emb16"))
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("emb16"))
    pref5 = S.brute_force_topk_pandas(q16, e16, "vec_id", "emb16", k=5).select(
        F.col("query_id").alias("pq"),
        F.col("neighbor_id").alias("pn"),
        F.col("rank").alias("prank"),
    )
    fa = (
        full5.join(
            pref5,
            (F.col("pq") == F.col("query_id"))
            & (F.col("pn") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.min(F.when(F.col("rank") == 1, F.col("neighbor_id")))
            .cast("long")
            .alias("full_top1"),
            F.count("pn").cast("long").alias("overlap_at_5"),
        )
    )
    pa = pref5.filter(F.col("prank") == 1).select(
        F.col("pq"), F.col("pn").cast("long").alias("prefix_top1")
    )
    return (
        fa.join(pa, F.col("pq") == F.col("query_id"))
        .select(
            "query_id",
            "full_top1",
            "prefix_top1",
            "overlap_at_5",
            F.when(F.col("full_top1") == F.col("prefix_top1"), 1)
            .otherwise(0)
            .cast("int")
            .alias("top1_match"),
        )
    )


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
    )
    SELECT a.vec_id AS _id_a, b.vec_id AS _id_b,
           {_cos('a.embedding', 'b.embedding')} AS cos_sim
    FROM corpus a, corpus b
    WHERE a.vec_id < b.vec_id
      AND {_cos('a.embedding', 'b.embedding')} >= 0.99
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.99) over a slice
    with injected exact copies — the semantic-dedup pass of a training
    pipeline. Every injected copy must surface with cos_sim = 1.0."""
    # Round-9 (guide §2.4, the [[streaming_neardup_ingest]] fold): the
    # original∪copy union scanned the slice twice per reference, and
    # the SRP pipeline references the corpus on both bucket-join sides
    # — one scan emits both variants per row (identical row multiset).
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    corpus = e.select(
        F.explode(
            F.array(
                F.struct(F.col("vec_id"), F.col("embedding")),
                F.struct(
                    (F.col("vec_id") + 1000000).alias("vec_id"),
                    F.col("embedding"),
                ),
            )
        ).alias("_r")
    ).select("_r.vec_id", "_r.embedding")
    return S.cosine_near_dup_pairs(corpus, "vec_id", "embedding", threshold=0.99)


@query(
    "ann_topk_pandas",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos('q.qv', 'c.embedding')} AS cos_sim
      FROM q, embeddings c
      WHERE q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_sim, 9) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-Pandas-UDF exact path: broadcast query matrix +
    one matmul per corpus Arrow batch, partial top-k merged per query.
    Same semantics as ann_cosine_topk (agreement unit-tested). BLAS
    sums in a different order than the fold (~1e-15 rel), so BOTH
    sides round cos_sim to 9 dp; ranking happens on the unrounded
    values on both sides."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    topk = S.brute_force_topk_pandas(queries, e, "vec_id", "embedding", k=5)
    return topk.withColumn("cos_sim", F.round("cos_sim", 9))


def _sql_d2(vec: str, cent: str) -> str:
    """Rounded squared euclidean distance — the 6 dp rounding on BOTH
    engines absorbs float-summation-order drift (numpy pairwise sum vs
    SQL left-to-right fold), making every k-means assignment, probe
    choice, and tie-break identical across engines."""
    diff = f"(CAST({vec}[i] AS DOUBLE) - {cent}[i])"
    return (
        f"round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({vec})+1), i -> {diff} * {diff})), "
        f"(x, y) -> x + y), 6)"
    )


def _ivf_iteration(i: int) -> str:
    """One unrolled k-means iteration: nearest-centroid assignment
    (rounded d2, lowest-cluster tie-break), per-dim rounded means,
    empty clusters keep their previous centroid (coalesce)."""
    d2 = _sql_d2("embedding", "cent")
    return f"""
    assign{i} AS (
      SELECT vec_id, embedding, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {d2}, cluster) AS rn
      FROM corpus CROSS JOIN cents{i}
    ),
    dmeans{i} AS (
      SELECT cluster, d, round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS m
      FROM (SELECT embedding, cluster FROM assign{i} WHERE rn = 1), dims
      GROUP BY cluster, d
    ),
    newcent{i} AS (
      SELECT cluster, list(m ORDER BY d) AS cent FROM dmeans{i} GROUP BY cluster
    ),
    cents{i + 1} AS (
      SELECT c.cluster, coalesce(n.cent, c.cent) AS cent
      FROM cents{i} c LEFT JOIN newcent{i} n USING (cluster)
    )"""


_IVF_D2 = _sql_d2("embedding", "cent")

_IVF_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
    dims AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS d
      FROM (SELECT embedding FROM embeddings LIMIT 1)
    ),
    cents0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM corpus
      WHERE vec_id % (SELECT greatest(count(*) // 16, 1) FROM corpus) = 0
      ORDER BY vec_id LIMIT 16
    ),
    {','.join(_ivf_iteration(i) for i in range(3))},
    final_assign AS (
      SELECT vec_id, embedding, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_IVF_D2}, cluster) AS rn
      FROM corpus CROSS JOIN cents3
    ),
    inv AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, cluster
      FROM final_assign WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, embedding AS qv, cluster
      FROM final_assign WHERE vec_id % 100 = 0 AND vec_id < 1000000 AND rn <= 6
    ),
    scored AS (
      SELECT DISTINCT query_id, neighbor_id, {_cos('qv', 'cv')} AS cos_sim
      FROM qprobe q JOIN inv c USING (cluster)
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic mini-k-means coarse quantizer → inverted
    lists keyed by cluster id → queries probe their n_probe nearest
    lists only. The centroid table is driver-sized metadata; corpus
    assignment and scoring stay distributed (cluster id = join key).
    Every float that steers control flow (distances, centroid means)
    is rounded to 6 dp on both engines, so the DuckDB oracle unrolls
    the same three iterations to identical clusters."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    return S.ivf_topk(
        queries, e, "vec_id", "embedding", k=5, n_clusters=16, n_probe=6, n_iters=3
    )


@query(
    "ann_srp_bucketed",
    oracle=f"""
    WITH {_sql_srp_buck_cte("embeddings", "embedding", 3, 8)},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buck q JOIN buck c
        ON q._table = c._table AND q._bucket = c._bucket
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos('qe.embedding', 'ce.embedding')} AS cos_sim
      FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
                JOIN embeddings ce ON cand.neighbor_id = ce.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_srp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: signed-random-projection buckets (deterministic
    md5-derived hyperplanes — driver-side literal metadata), cosine
    only within the query's bucket. ~2^planes× fewer comparisons;
    recall vs the exact baseline is asserted in
    tests/test_dedup_similarity.py. The oracle rebuilds the identical
    plane literals, so buckets — and therefore the exact candidate
    set — match bit-for-bit."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    return S.srp_bucketed_topk(queries, e, "vec_id", "embedding", k=5, n_planes=3, n_tables=8)


# ---------------------------------------------------------------------------
# Vector aggregation: per-label centroids (the feature-averaging shape —
# class prototypes, cluster summaries, embedding-drift monitoring)
# ---------------------------------------------------------------------------


@query(
    "embeddings_label_centroids",
    oracle="""
    SELECT label, u.pos AS pos,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(18,9)))
                AS DOUBLE) / COUNT(*) AS mean_val
    FROM (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> struct_pack(pos := i, val := embedding[i]))) AS u
      FROM embeddings
    )
    GROUP BY label, u.pos
    """,
)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per
    (label, dimension): posexplode the vector, group by (label, pos),
    exact-decimal mean. The components-as-rows layout is the scale
    form — the shuffle carries |labels|·|dims| partial aggregates (not
    vectors), map-side combined, and reassembling an array centroid is
    one small collect_list at the end if a consumer wants it.
    The mean rides as exact decimal so engines agree bit-for-bit."""
    e = t(spark, sf_dir, "embeddings")
    comps = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    return comps.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.sum(F.col("val").cast("double").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_val"),
    )


# ---------------------------------------------------------------------------
# kNN label-vote classification (embedding eval / weak supervision)
# ---------------------------------------------------------------------------


@query(
    "embeddings_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    scored AS (
      SELECT q.query_id, q.true_label, c.label AS nlabel,
             {_cos('q.qv', 'c.embedding')} AS cos_sim, c.vec_id AS nid
      FROM q, embeddings c
      WHERE q.query_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, nid) AS rank
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, nlabel, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= 5
      GROUP BY query_id, true_label, nlabel
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nlabel) AS vr
      FROM votes
    )
    SELECT query_id, true_label, nlabel AS predicted_label, n_votes,
           CAST(nlabel = true_label AS INT) AS correct
    FROM best WHERE vr = 1
    """,
)
def embeddings_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFICATION by label vote: every 100th vector is held
    out as a query, its exact cosine top-5 neighbors vote with their
    labels, and the majority (ties broken by label) is the prediction
    — the evaluation loop behind embedding-quality checks, label
    propagation, and weak supervision. Per-query output carries the
    true label and a correctness flag, so accuracy is one AVG away.

    Composition shape: the same scored/ranked pipeline as
    ann_cosine_topk plus one vote aggregate and one argmax window —
    at scale the neighbor stage swaps for the SRP-bucketed candidates
    with identical voting on top."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    topk = S.brute_force_topk(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding")),
        e,
        "vec_id",
        "embedding",
        k=5,
    )
    labeled = topk.join(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")),
        "neighbor_id",
    ).join(queries.select("query_id", "true_label"), "query_id")
    votes = labeled.groupBy("query_id", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("nlabel")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nlabel").alias("predicted_label"),
            "n_votes",
            (F.col("nlabel") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the vector-compression
# half of IVF-PQ; composes with the IVF probes above for ADC search.
# ---------------------------------------------------------------------------


def _pq_sub_d2(vec: str, cent: str) -> str:
    return _sql_d2(vec, cent)


def _pq_iteration(s: int, i: int) -> str:
    d2 = _pq_sub_d2("sv", "cent")
    return f"""
    assign_{s}_{i} AS (
      SELECT vec_id, sv, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {d2}, cluster) AS rn
      FROM sub{s} CROSS JOIN cents_{s}_{i}
    ),
    dmeans_{s}_{i} AS (
      SELECT cluster, d, round(avg(sv[d]), 6) AS m
      FROM (SELECT sv, cluster FROM assign_{s}_{i} WHERE rn = 1), sdims
      GROUP BY cluster, d
    ),
    newcent_{s}_{i} AS (
      SELECT cluster, list(m ORDER BY d) AS cent
      FROM dmeans_{s}_{i} GROUP BY cluster
    ),
    cents_{s}_{i + 1} AS (
      SELECT c.cluster, coalesce(n.cent, c.cent) AS cent
      FROM cents_{s}_{i} c LEFT JOIN newcent_{s}_{i} n USING (cluster)
    )"""


def _pq_subspace(s: int, n_iters: int) -> str:
    lo, hi = 16 * s + 1, 16 * s + 16
    d2 = _pq_sub_d2("sv", "cent")
    ctes = [
        f"""
    sub{s} AS (
      SELECT vec_id,
             list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS sv
      FROM corpus
    ),
    cents_{s}_0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, sv AS cent
      FROM sub{s}
      WHERE vec_id % (SELECT greatest(count(*) // 16, 1) FROM corpus) = 0
      ORDER BY vec_id LIMIT 16
    )"""
    ]
    ctes += [_pq_iteration(s, i) for i in range(n_iters)]
    ctes.append(
        f"""
    encoded_{s} AS (
      SELECT CAST({s} AS INT) AS sub, vec_id,
             CAST(cluster AS INT) AS code, {d2} AS err_d2
      FROM (
        SELECT vec_id, sv, cluster, cent,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {d2}, cluster) AS rn
        FROM sub{s} CROSS JOIN cents_{s}_{n_iters}
      ) WHERE rn = 1
    )"""
    )
    return ",".join(ctes)


_PQ_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
    sdims AS (SELECT unnest(range(1, 17)) AS d),
    {','.join(_pq_subspace(s, 2) for s in range(4))},
    encoded AS (
      SELECT * FROM encoded_0 UNION ALL SELECT * FROM encoded_1
      UNION ALL SELECT * FROM encoded_2 UNION ALL SELECT * FROM encoded_3
    )
    SELECT sub, code,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(err_d2 AS DECIMAL(18,6))) AS DOUBLE) AS total_err,
           CAST(SUM(CAST(err_d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_err
    FROM encoded GROUP BY sub, code
"""


@query("embeddings_pq_codebooks", oracle=_PQ_ORACLE)
def embeddings_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION codebook training + corpus encoding
    (operators/similarity.pq_train_encode): 4 subspaces x 16 codes,
    deterministic per-subspace k-means, every vector compressed to 4
    code ids (64 floats -> 2 bytes) with its exact quantization error.
    Reported per (subspace, code): occupancy and exact-decimal error
    totals — the codebook-quality view a vector-store operator watches
    (dead codes, unbalanced cells, error regressions).

    Scale shape: codebooks are m*k*(d/m) driver metadata (the IVF
    discipline); training scans are mapInPandas matmuls; encoding is
    one linear pass per subspace; the report is one map-side-combined
    rollup of 64 groups. ADC search = IVF probe candidates scored by
    distance-table lookups over these codes — never raw-vector math
    per pair. Every control-flow float rounds to 6 dp on both engines,
    so the oracle's unrolled k-means reproduces every code exactly."""
    e = t(spark, sf_dir, "embeddings")
    enc = S.pq_train_encode(e, "vec_id", "embedding", m=4, k=16, n_iters=2)
    return (
        enc.groupBy("sub", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("err_d2").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_err"),
        )
        .select(
            "sub",
            "code",
            "n_vectors",
            "total_err",
            (F.col("total_err") / F.col("n_vectors")).alias("avg_err"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ with asymmetric distance computation — the composed
# trillion-scale ANN architecture (coarse probes + code lookups)
# ---------------------------------------------------------------------------

_ADC_D2 = _sql_d2("sv", "cent")

_IVFPQ_ORACLE = f"""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
    dims AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS d
      FROM (SELECT embedding FROM embeddings LIMIT 1)
    ),
    cents0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM corpus
      WHERE vec_id % (SELECT greatest(count(*) // 16, 1) FROM corpus) = 0
      ORDER BY vec_id LIMIT 16
    ),
    {','.join(_ivf_iteration(i) for i in range(2))},
    final_assign AS (
      SELECT vec_id, embedding, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_IVF_D2}, cluster) AS rn
      FROM corpus CROSS JOIN cents2
    ),
    inv AS (
      SELECT vec_id AS neighbor_id, cluster FROM final_assign WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cluster
      FROM final_assign WHERE vec_id % 100 = 0 AND vec_id < 1000000 AND rn <= 6
    ),
    sdims AS (SELECT unnest(range(1, 17)) AS d),
    {','.join(_pq_subspace(s, 2) for s in range(4))},
    enc AS (
      SELECT sub, vec_id AS neighbor_id, code FROM encoded_0
      UNION ALL SELECT sub, vec_id, code FROM encoded_1
      UNION ALL SELECT sub, vec_id, code FROM encoded_2
      UNION ALL SELECT sub, vec_id, code FROM encoded_3
    ),
    dtab AS (
      {' UNION ALL '.join(
        f"SELECT CAST({s} AS INT) AS sub, q.vec_id AS query_id, "
        f"CAST(c.cluster AS INT) AS code, "
        f"CAST(round({_ADC_D2} * 1000000) AS BIGINT) AS dist_unats "
        f"FROM (SELECT vec_id, sv FROM sub{s} WHERE vec_id % 100 = 0 AND vec_id < 1000000) q "
        f"CROSS JOIN cents_{s}_2 c"
        for s in range(4)
      )}
    ),
    pairs AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM qprobe JOIN inv USING (cluster)
      WHERE query_id <> neighbor_id
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id,
             CAST(SUM(d.dist_unats) AS BIGINT) AS adc_unats
      FROM pairs p
      JOIN enc e USING (neighbor_id)
      JOIN dtab d ON d.query_id = p.query_id
                 AND d.sub = e.sub AND d.code = e.code
      GROUP BY p.query_id, p.neighbor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_unats, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, adc_unats, rank FROM ranked WHERE rank <= 5
"""


@query("ann_ivf_pq_adc", oracle=_IVFPQ_ORACLE)
def ann_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC — the composed architecture behind billion-vector
    ANN indexes: the IVF coarse quantizer restricts each query to its
    6 probed inverted lists; candidates are scored by ASYMMETRIC
    DISTANCE COMPUTATION — each query precomputes a 4x16 distance
    table against the PQ codebooks and a candidate's distance is the
    sum of 4 integer table lookups keyed by its stored codes. Raw
    vectors are never touched at search time.

    Everything that steers control flow is deterministic integer or
    6 dp-rounded arithmetic, so the oracle unrolls BOTH quantizers
    (coarse k-means + 4 subspace k-means) and reproduces every code,
    every probe, and every rank bit-for-bit. Scale shape: scoring is
    an equi-join on (query, sub, code) against a BROADCAST distance
    table plus an integer-sum aggregate — per-candidate cost is 4
    lookups regardless of vector dimension."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    return S.ivf_pq_topk(
        queries,
        e,
        "vec_id",
        "embedding",
        k=5,
        n_clusters=16,
        n_probe=6,
        n_iters=2,
        m=4,
        n_codes=16,
        pq_iters=2,
    )


@query(
    "embeddings_pq_code_dedup",
    oracle=f"""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
    sdims AS (SELECT unnest(range(1, 17)) AS d),
    {','.join(_pq_subspace(s, 2) for s in range(4))},
    codes AS (
      SELECT e0.vec_id,
             e0.code AS c0, e1.code AS c1, e2.code AS c2, e3.code AS c3
      FROM encoded_0 e0
      JOIN encoded_1 e1 USING (vec_id)
      JOIN encoded_2 e2 USING (vec_id)
      JOIN encoded_3 e3 USING (vec_id)
    ),
    groups AS (
      SELECT c0, c1, c2, c3,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MIN(vec_id) AS BIGINT) AS rep_id,
             CAST(MAX(vec_id) AS BIGINT) AS max_id
      FROM codes GROUP BY c0, c1, c2, c3
      HAVING COUNT(*) >= 2
    )
    SELECT * FROM groups
    """,
)
def embeddings_pq_code_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE candidates from PQ CODES ALONE: vectors sharing
    all four quantizer codes land in the same 2-byte signature bucket,
    so exact and near-exact duplicates group with a plain GROUP BY —
    no pair join, no distance computation, the cheapest first pass of
    embedding dedup at billion scale (the SRP/crossJoin near-dup
    queries are the verify stage this feeds). Buckets with >= 2
    members report size and representative.

    Identical twins are GUARANTEED to share codes (same input, same
    deterministic argmin), so recall on exact dups is 1 by
    construction; collisions of genuinely different vectors are what
    the downstream exact verify removes."""
    e = t(spark, sf_dir, "embeddings")
    enc = S.pq_train_encode(e, "vec_id", "embedding", m=4, k=16, n_iters=2)
    codes = (
        enc.groupBy("vec_id")
        .pivot("sub", [0, 1, 2, 3])
        .agg(F.first("code"))
        .withColumnsRenamed({"0": "c0", "1": "c1", "2": "c2", "3": "c3"})
    )
    return (
        codes.groupBy("c0", "c1", "c2", "c3")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("rep_id"),
            F.max("vec_id").alias("max_id"),
        )
        .filter(F.col("n_members") >= 2)
    )


# ---------------------------------------------------------------------------
# Density clustering: DBSCAN over the SRP candidate ε-graph
# (operators/similarity.dbscan_labels). The near-uniform fixture has no
# native density structure (same-label mean cos ≈ 0.002), so the query
# plants it: orthogonalized star perturbations around every 10th vector
# give exact cos(base, arm) = 1/sqrt(1+a²) ≈ 0.876 and
# cos(arm_i, arm_j) ≈ 1/(1+a²) ≤ 0.76 — a clean ε band at 0.85.
# ---------------------------------------------------------------------------

_DB_A = "0.55"  # perturbation magnitude; cos(base, arm) = 1/sqrt(1+a²)
_DB_EPS = 0.85
_DB_PLANES = 4
_DB_TABLES = 6


def _db_plane(j: str, i: str = "i") -> str:
    """DuckDB twin of _plane_component(77, j, dim) with 1-based i."""
    return (
        f"(((((77*524287 + ({j})*8191) + {i}) * 2654435761) % 2147483648)"
        f" / 1073741824.0 - 1.0)"
    )


def _db_fold(elem: str, n: str = "len(v)") -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {n}+1), i -> {elem})), (x, y) -> x + y)"
    )


def _db_variant_sql(j: int, id_off: int, src: str) -> str:
    """One orthogonalized variant: v' = v + (a·||v||/||p||)·p with
    p = c - (c·v / v·v)·v — identical op order to the Spark builder."""
    c = _db_plane(str(j))
    p = f"({c} - (dcv / dvv) * v[i])"
    return f"""
      SELECT vec_id + {id_off} AS vec_id,
             list_transform(range(1, len(v)+1),
               i -> v[i] + ({_DB_A} * sqrt(dvv) / sqrt(dpp)) * {p}) AS v
      FROM (
        SELECT vec_id, v, dcv, dvv,
               {_db_fold(f"{p} * {p}")} AS dpp
        FROM (
          SELECT vec_id, v,
                 {_db_fold(f"v[i] * {c}")} AS dcv,
                 {_db_fold("v[i] * v[i]")} AS dvv
          FROM {src}
        )
      )
    """




@query(
    "embeddings_dbscan",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 5 = 0
    ),
    star_bases AS (SELECT * FROM base WHERE vec_id % 10 = 0),
    pair_bases AS (SELECT * FROM base WHERE vec_id % 10 = 5),
    corpus AS MATERIALIZED (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 5 = 1
      UNION ALL {_db_variant_sql(0, 1000000, "star_bases")}
      UNION ALL {_db_variant_sql(1, 2000000, "star_bases")}
      UNION ALL {_db_variant_sql(2, 3000000, "star_bases")}
      UNION ALL {_db_variant_sql(0, 1000000, "pair_bases")}
    ),{_sql_srp_buck_cte("corpus", "v", _DB_PLANES, _DB_TABLES)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buck a JOIN buck b
        ON a._table = b._table AND a._bucket = b._bucket
      WHERE a.vec_id < b.vec_id
    ),
    edges AS MATERIALIZED (
      SELECT id_a, id_b
      FROM cand JOIN corpus a ON cand.id_a = a.vec_id
                JOIN corpus b ON cand.id_b = b.vec_id
      WHERE {_cos('a.v', 'b.v')} >= {_DB_EPS}
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    core AS (
      SELECT src AS node FROM sym GROUP BY src HAVING COUNT(*) >= 3
    ),
    core_sym AS (
      SELECT s.src AS a, s.dst AS b FROM sym s
      WHERE s.src IN (SELECT node FROM core)
        AND s.dst IN (SELECT node FROM core)
    ),
    walk(node, r) AS (
      SELECT DISTINCT a, a FROM core_sym
      UNION
      SELECT w.node, e.b FROM walk w JOIN core_sym e ON e.a = w.r
    ),
    cc AS (SELECT node, MIN(r) AS comp FROM walk GROUP BY node),
    core_lab AS MATERIALIZED (
      SELECT node, comp FROM cc
      UNION ALL
      SELECT node, node FROM core
      WHERE node NOT IN (SELECT node FROM cc)
    ),
    border_lab AS MATERIALIZED (
      SELECT s.src AS node, MIN(cl.comp) AS comp
      FROM sym s JOIN core_lab cl ON s.dst = cl.node
      WHERE s.src NOT IN (SELECT node FROM core)
      GROUP BY s.src
    ),
    labels AS (
      SELECT node, comp, 'core' AS role FROM core_lab
      UNION ALL
      SELECT node, comp, 'border' FROM border_lab
      UNION ALL
      SELECT vec_id, -1, 'noise' FROM corpus
      WHERE vec_id NOT IN (SELECT node FROM core_lab)
        AND vec_id NOT IN (SELECT node FROM border_lab)
    )
    SELECT comp AS cluster_rep,
           CAST(SUM(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_core,
           CAST(SUM(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_border,
           CAST(SUM(CASE WHEN role = 'noise' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_noise
    FROM labels GROUP BY comp
    """,
)
def embeddings_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the SRP ε-graph with planted density structure:
    every 10th vector becomes a STAR (base + 3 orthogonalized
    perturbation arms at exact cos 1/sqrt(1+a²) ≈ 0.876, arms mutually
    ≤ 0.76), every (10k+5)th a PAIR (base + 1 arm — an edge with no
    core, DBSCAN's subtlest case), and every (5k+1)th an untouched
    singleton. At eps=0.85, minPts=3: star bases are CORE, their arms
    BORDER (attached to the min core-neighbor's component — the
    deterministic resolution of DBSCAN's border ambiguity), pairs and
    singletons NOISE. Candidates come from the SRP bucket equi-join
    (never all-pairs); the oracle replays hyperplanes, ε-graph, degree
    rule, component walk, and border attachment bit-for-bit.

    Scale shape: candidate generation is the bucketed near-dup join;
    CC runs only on the (tiny) core-core graph; border assignment is
    one join against core labels. Per-cluster rollup output."""
    e = t(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.filter(F.col("vec_id") % 5 == 0).select("vec_id", dv.alias("v"))
    singles = e.filter(F.col("vec_id") % 5 == 1).select(
        "vec_id", dv.alias("v")
    )
    star_bases = base.filter(F.col("vec_id") % 10 == 0)
    pair_bases = base.filter(F.col("vec_id") % 10 == 5)

    def variant(src: DataFrame, j: int, id_off: int) -> DataFrame:
        # Python-exact twin of the former nested-HOF expression. The
        # HOF form was the per-char trap SQUARED: dpp folded over
        # zip_with(pvec, pvec) where pvec itself nests dcv/dvv folds,
        # so the interpreted evaluator re-walked O(d²)-sized subtrees
        # per element — O(d⁴) per row, measured 390s of the sf1.0
        # sweep's 412s dbscan wall on 8,000 variant rows (invisible at
        # driver SFs where the planted corpus is tiny). Python floats
        # are IEEE doubles with the same per-op rounding, and every
        # loop below preserves the fold's left-to-right order and the
        # expression's association, so emitted vectors are bit-equal
        # to the HOF form and to the oracle's SQL twin.
        import math

        from collections.abc import Iterator

        import pandas as pd

        base_h = 77 * 524287 + j * 8191

        def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, out = [], []
                for vid, v in zip(pdf["vec_id"], pdf["v"]):
                    x = [float(t) for t in v]
                    c = [
                        ((base_h + i + 1) * 2654435761 % 2147483648)
                        / 1073741824.0
                        - 1.0
                        for i in range(len(x))
                    ]
                    dcv = 0.0
                    for xi, ci in zip(x, c):
                        dcv = dcv + xi * ci
                    dvv = 0.0
                    for xi in x:
                        dvv = dvv + xi * xi
                    if dvv == 0.0:
                        # degenerate (all-zero) vector: the HOF form
                        # produced NaNs without crashing; Python raises
                        # ZeroDivisionError. Emit the row unchanged —
                        # a zero vector has no perpendicular variant.
                        out.append(x)
                        ids.append(int(vid) + id_off)
                        continue
                    r = dcv / dvv
                    p = [ci - r * xi for xi, ci in zip(x, c)]
                    dpp = 0.0
                    for pi in p:
                        dpp = dpp + pi * pi
                    if dpp == 0.0:
                        out.append(x)
                        ids.append(int(vid) + id_off)
                        continue
                    scale = float(_DB_A) * math.sqrt(dvv) / math.sqrt(dpp)
                    out.append([xi + scale * pi for xi, pi in zip(x, p)])
                    ids.append(int(vid) + id_off)
                yield pd.DataFrame({"vec_id": ids, "v": out})

        return src.mapInPandas(op, schema="vec_id long, v array<double>")

    # localCheckpoint: the variant builder is a deeply nested HOF
    # expression (folds referencing folds); inlining it into the 24
    # SRP plane folds downstream makes the Catalyst tree explode
    # multiplicatively. Materializing the (small, planted) corpus cuts
    # the scaffolding out of the clustering plan — which is also what
    # a real pipeline does: cluster a stored corpus, not a formula.
    corpus = (
        base.unionByName(singles)
        .unionByName(variant(star_bases, 0, 1000000))
        .unionByName(variant(star_bases, 1, 2000000))
        .unionByName(variant(star_bases, 2, 3000000))
        .unionByName(variant(pair_bases, 0, 1000000))
        .localCheckpoint()
    )
    lab = S.dbscan_labels(
        corpus,
        "vec_id",
        "v",
        eps_cos=_DB_EPS,
        min_pts=3,
        n_planes=_DB_PLANES,
        n_tables=_DB_TABLES,
    )
    return lab.groupBy(F.col("comp").alias("cluster_rep")).agg(
        F.sum(F.when(F.col("role") == "core", 1).otherwise(0)).alias("n_core"),
        F.sum(F.when(F.col("role") == "border", 1).otherwise(0)).alias(
            "n_border"
        ),
        F.sum(F.when(F.col("role") == "noise", 1).otherwise(0)).alias(
            "n_noise"
        ),
    )


# ---------------------------------------------------------------------------
# Scalar (int8) quantization: 4× smaller embeddings for storage/IO at
# 100 TB — per-dimension affine codes with certified reconstruction.
# ---------------------------------------------------------------------------


@query(
    "embeddings_int8_quantization",
    oracle="""
    WITH vals AS (
      SELECT vec_id, u.pos, CAST(u.val AS DOUBLE) AS x
      FROM (
        SELECT vec_id,
               unnest(list_transform(range(1, len(embedding)+1),
                      i -> struct_pack(pos := i, val := embedding[i]))) AS u
        FROM embeddings
      )
    ),
    stats AS (
      SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM vals GROUP BY pos
    ),
    coded AS (
      SELECT v.vec_id, v.pos, v.x, s.lo, s.hi,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE CAST(floor((v.x - s.lo) * 255.0 / (s.hi - s.lo) + 0.5)
                       AS BIGINT) END AS code
      FROM vals v JOIN stats s USING (pos)
    ),
    recon AS (
      SELECT vec_id, pos, code,
             abs(x - (lo + code * ((hi - lo) / 255.0))) AS err
      FROM coded
    )
    SELECT vec_id,
           CAST(SUM(code * pos) % 2147483647 AS BIGINT) AS code_checksum,
           MAX(err) AS max_abs_err,
           CAST(SUM(CAST(err * err AS DECIMAL(18,14))) AS DOUBLE) AS sse
    FROM recon GROUP BY vec_id
    """,
)
def embeddings_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR QUANTIZATION: per-dimension affine int8 codes
    (code = floor((x−lo)·255/(hi−lo) + 0.5), the +0.5 floor matching
    DuckDB's cast rounding) — the 4× storage/IO reduction applied to
    embedding columns before they hit 100 TB of parquet, with the
    dequantization error certified per vector: an order-free
    Σ code·pos mod P checksum pins every code, max_abs_err bounds the
    distortion (≤ half a quantization step per dim by construction),
    and the exact-decimal SSE makes the error itself hash-comparable.

    Scale shape: one 64-group min/max aggregate (map-side partial),
    broadcast of the 64-row stats table back onto the exploded values,
    one vec_id rollup — the stats table is sketch metadata, the data
    never moves twice."""
    e = t(spark, sf_dir, "embeddings")
    P = 2147483647
    vals = e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos0", "xf"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    stats = vals.groupBy("pos").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    coded = vals.join(F.broadcast(stats), "pos").withColumn(
        "code",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.col("x") - F.col("lo"))
                * 255.0
                / (F.col("hi") - F.col("lo"))
                + 0.5
            ).cast("long")
        ),
    )
    recon = coded.withColumn(
        "err",
        F.abs(
            F.col("x")
            - (F.col("lo") + F.col("code") * ((F.col("hi") - F.col("lo")) / 255.0))
        ),
    )
    return recon.groupBy("vec_id").agg(
        (F.sum(F.col("code") * F.col("pos")) % P).alias("code_checksum"),
        F.max("err").alias("max_abs_err"),
        F.sum((F.col("err") * F.col("err")).cast("decimal(18,14)"))
        .cast("double")
        .alias("sse"),
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection: 64 → 16 dims with certified
# distance distortion — the "make ANN 4× cheaper" preprocessing step.
# ---------------------------------------------------------------------------

_JL_K = 16


def _jl_proj_sql(vec: str) -> str:
    """Projected vector [y_0..y_15]: y_j = v · c_j with the md5 plane
    literals (table 0, planes 0..15 — the same driver-side metadata
    recipe as SRP). Left-to-right folds, identical to the Spark
    builder."""
    from ..operators.similarity import md5_plane_components

    comps = []
    for j in range(_JL_K):
        lst = (
            "[" + ", ".join(_dlit(v) for v in md5_plane_components(0, j)[:64]) + "]"
        )
        comps.append(
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len({vec})+1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lst})[i])), (x, y) -> x + y)"
        )
    return "[" + ", ".join(comps) + "]"


_JL_D2F = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a})+1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x, y) -> x + y)"
)


@query(
    "embeddings_jl_projection",
    oracle=f"""
    WITH proj AS MATERIALIZED (
      SELECT vec_id, embedding, {_jl_proj_sql('embedding')} AS y
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_JL_D2F.format(a='a.embedding', b='b.embedding')} AS d2_orig,
             {_JL_D2F.format(a='a.y', b='b.y')} AS d2_proj
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 25
      WHERE a.vec_id % 50 = 0
    )
    SELECT id_a, id_b, d2_orig,
           3.0 * d2_proj / {_JL_K} AS d2_proj_scaled,
           (3.0 * d2_proj / {_JL_K}) / d2_orig AS distortion
    FROM pairs
    """,
)
def embeddings_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON–LINDENSTRAUSS projection 64 → 16 dims: y_j = v·c_j with
    the md5-derived plane literals (uniform [-1,1) components, so
    E[3·|y_a−y_b|²/k] = |a−b|² — the 3/k factor is the variance
    correction for uniform rather than gaussian entries). Output
    reports the certified per-pair distortion of the projection on a
    deterministic pair sample — the preprocessing that makes downstream
    ANN 4× cheaper in memory/IO while distances survive within the JL
    bound.

    Scale shape: the projection is 16 codegen-safe folds against
    literal metadata per row (no shuffle at all); the distortion audit
    joins a tiny deterministic sample."""
    from ..operators.similarity import md5_plane_components

    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 25 == 0)

    def proj(vcol):
        cols = []
        for j in range(_JL_K):
            comps = F.array(
                *[F.lit(v) for v in md5_plane_components(0, j)]
            )
            cols.append(
                F.aggregate(
                    F.zip_with(
                        vcol,
                        F.slice(comps, F.lit(1), F.size(vcol)),
                        lambda x, c: x.cast("double") * c,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        return F.array(*cols)

    def d2(a, b):
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    p = e.select("vec_id", "embedding", proj(F.col("embedding")).alias("y")).localCheckpoint()
    a = p.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("y").alias("ya"),
    ).filter(F.col("id_a") % 50 == 0)
    b = p.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 25)
    d2o = d2(F.col("va"), F.col("vb"))
    d2p = d2(F.col("ya"), F.col("yb"))
    return pairs.select(
        "id_a",
        "id_b",
        d2o.alias("d2_orig"),
        (F.lit(3.0) * d2p / _JL_K).alias("d2_proj_scaled"),
        ((F.lit(3.0) * d2p / _JL_K) / d2o).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH: probe the weakest-bit flip instead of adding tables.
# ---------------------------------------------------------------------------


@query(
    "ann_multiprobe_topk",
    oracle=f"""
    WITH {_sql_srp_buck_cte("embeddings", "embedding", 4, 3)},
    qb AS (
      SELECT vec_id, _table,
             CAST(SUM(CASE WHEN dot > 0 THEN _pw ELSE 0 END) AS INTEGER)
               AS _bucket,
             (min(struct_pack(a := abs(dot), pw := _pw))).pw AS wpw
      FROM dots WHERE vec_id % 100 = 0 AND vec_id < 1000000 GROUP BY vec_id, _table
    ),
    qprobes AS (
      SELECT vec_id, _table, _bucket FROM qb
      UNION ALL
      SELECT vec_id, _table, CAST(xor(_bucket, wpw) AS INTEGER) FROM qb
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM qprobes q JOIN buck c
        ON q._table = c._table AND q._bucket = c._bucket
      WHERE q.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {_cos('qe.embedding', 'ce.embedding')} AS cos_sim
      FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
                JOIN embeddings ce ON cand.neighbor_id = ce.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH ANN (Lv et al., VLDB'07): each query probes its
    own SRP bucket AND the bucket across its least-confident
    hyperplane (smallest |dot| — where a true neighbor most plausibly
    fell on the other side). The corpus is indexed once per table;
    probes add join keys, not index copies — recall comparable to
    ~2× the tables at half the index build/storage, which is the
    trade that matters when the corpus is the 100 TB side. Recall vs
    single-probe is asserted in tests/test_estimators.py; the oracle
    replays dots, weakest-bit selection, and both probes exactly."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000))
    return S.srp_multiprobe_topk(
        queries, e, "vec_id", "embedding", k=5, n_planes=4, n_tables=3
    )


def _mmr_oracle(k: int = 4, n_cand: int = 8) -> str:
    head = """
    WITH codes AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS c
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    rel AS MATERIALIZED (
      SELECT q.qid, d.vec_id AS cid,
             CAST(list_sum(list_transform(range(1, len(d.c) + 1),
                  i -> q.qc[i] * d.c[i])) AS BIGINT) AS rel
      FROM q, codes d WHERE d.vec_id <> q.qid
    ),
    cand AS MATERIALIZED (
      SELECT qid, cid, rel FROM rel
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid)
              <= {n_cand}
    ),
    sims AS MATERIALIZED (
      SELECT a.qid, a.cid AS ca, b.cid AS cb,
             CAST(list_sum(list_transform(range(1, len(x.c) + 1),
                  i -> x.c[i] * y.c[i])) AS BIGINT) AS d
      FROM cand a
      JOIN cand b ON b.qid = a.qid AND b.cid <> a.cid
      JOIN codes x ON x.vec_id = a.cid
      JOIN codes y ON y.vec_id = b.cid
    ),
    sel1 AS (
      SELECT qid, cid, rel AS score, CAST(1 AS INTEGER) AS round FROM cand
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid) = 1
    )""".replace("{n_cand}", str(n_cand))
    rounds = []
    for r in range(2, k + 1):
        prev = r - 1
        rounds.append(f"""
    pick{r} AS (
      SELECT qid, cid, score, CAST({r} AS INTEGER) AS round FROM (
        SELECT c.qid, c.cid, c.rel - MAX(s.d) AS score
        FROM cand c
        LEFT JOIN sel{prev} e ON e.qid = c.qid AND e.cid = c.cid
        JOIN sims s ON s.qid = c.qid AND s.ca = c.cid
        JOIN sel{prev} sl ON sl.qid = s.qid AND sl.cid = s.cb
        WHERE e.cid IS NULL
        GROUP BY c.qid, c.cid, c.rel
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) = 1
    ),
    sel{r} AS (SELECT * FROM sel{prev} UNION ALL SELECT * FROM pick{r})""")
    tail = f"""
    SELECT qid, round, cid AS picked, score AS mmr_score FROM sel{k}
    """
    return head + "," + ",".join(rounds) + tail


@query("embeddings_mmr_rerank", oracle=_mmr_oracle())
def embeddings_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein '98)
    — the retrieval-diversification step between ANN and the consumer:
    from each query's top-8 candidates, greedily pick 4 maximizing
    relevance MINUS the max similarity to everything already picked.
    The greedy loop is inherently sequential, so all similarities are
    EXACT integer dot products over 1e4-scaled quantized codes (the
    int8-quantization doctrine): every argmax has a total order
    (score desc, id) and the oracle replays the identical rounds
    unrolled. Spark runs the loop as k-1 bounded joins over the
    candidate set — per-query work is O(k·n_cand), never corpus-sized;
    candidate generation is the ANN index's job at scale
    (ann_srp_bucketed / ann_ivf_topk feed this directly)."""
    K, N_CAND = 4, 8
    emb = t(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.5)).cast("long"),
        ).alias("c"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda u, v: u * v),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qs = codes.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(F.col("vec_id").alias("qid"), F.col("c").alias("qc"))
    rel = (
        qs.crossJoin(codes.select(F.col("vec_id").alias("cid"), "c"))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", "c", dot(F.col("qc"), F.col("c")).alias("rel"))
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "cid")
    cand = (
        rel.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_CAND)
        .drop("rn")
        .persist()
    )
    sims = (
        cand.select("qid", F.col("cid").alias("ca"), F.col("c").alias("c1"))
        .join(
            cand.select(
                F.col("qid").alias("q2"), F.col("cid").alias("cb"), F.col("c").alias("c2")
            ),
            (F.col("q2") == F.col("qid")) & (F.col("cb") != F.col("ca")),
        )
        .select("qid", "ca", "cb", dot(F.col("c1"), F.col("c2")).alias("d"))
        .persist()
    )
    sel = (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            "cid",
            F.col("rel").alias("score"),
            F.lit(1).cast("int").alias("round"),
        )
    )
    for r in range(2, K + 1):
        prior = sel.select(F.col("qid").alias("pq"), F.col("cid").alias("pc"))
        remaining = cand.join(
            prior,
            (F.col("pq") == F.col("qid")) & (F.col("pc") == F.col("cid")),
            "left_anti",
        )
        pen = (
            remaining.join(
                sims.withColumnRenamed("qid", "sq"),
                (F.col("sq") == F.col("qid")) & (F.col("ca") == F.col("cid")),
            )
            .join(
                prior,
                (F.col("pq") == F.col("sq")) & (F.col("pc") == F.col("cb")),
            )
            .groupBy("qid", "cid", "rel")
            .agg(F.max("d").alias("pen"))
            .select("qid", "cid", (F.col("rel") - F.col("pen")).alias("score"))
        )
        ws = Window.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
        pick = (
            pen.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("qid", "cid", "score", F.lit(r).cast("int").alias("round"))
        )
        sel = sel.unionByName(pick)
    # the K-round plan reads cand/sims many times — that's what the
    # persists are for — but the RESULT is 4 rows per query: eagerly
    # localCheckpoint it (executor-side, GC-collectable — unlike
    # CacheManager entries, which live until explicit unpersist) so
    # both caches can be released before returning
    try:
        out = sel.select(
            "qid",
            "round",
            F.col("cid").alias("picked"),
            F.col("score").alias("mmr_score"),
        ).localCheckpoint()
    finally:
        cand.unpersist()
        sims.unpersist()
    return out


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via k-means + in-cluster cosine pruning
# ---------------------------------------------------------------------------

_SEM_CORPUS = """
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0
    )
"""

_SEM_ORACLE = f"""
    WITH {_SEM_CORPUS},
    dims AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS d
      FROM (SELECT embedding FROM embeddings LIMIT 1)
    ),
    cents0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM corpus
      WHERE vec_id % (SELECT greatest(count(*) // 16, 1) FROM corpus) = 0
      ORDER BY vec_id LIMIT 16
    ),
    {','.join(_ivf_iteration(i) for i in range(3))},
    final_assign AS (
      SELECT vec_id, embedding, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_IVF_D2}, cluster) AS rn
      FROM corpus CROSS JOIN cents3
    ),
    labeled AS (
      SELECT vec_id, embedding, cluster FROM final_assign WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM labeled a JOIN labeled b USING (cluster)
      WHERE a.vec_id < b.vec_id
        AND {_cos('a.embedding', 'b.embedding')} >= 0.99
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN l.vec_id ELSE 0 END)
                AS BIGINT) AS dropped_id_sum
    FROM labeled l LEFT JOIN dropped d ON l.vec_id = d.vec_id
    GROUP BY cluster
    ORDER BY cluster
"""


@query("corpus_semdedup", oracle=_SEM_ORACLE)
def corpus_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540) over the embedding
    table with injected exact copies: k-means (deterministic seeds, 3
    unrolled iterations) partitions the space; within each cluster any
    vector with a lower-id neighbor at cosine ≥ 0.99 is dropped.

    The per-cluster report (size, drops, dropped-id checksum) pins
    every k-means label AND every keep/drop decision — the oracle
    replays the identical centroid arithmetic in SQL. Injected copies
    land in their original's cluster (identical vectors, identical
    rounded distances) and are always dropped.

    Extension beyond the reference: the embedding-space analogue of
    its id-equality dedup (main.py:663-700), the form used to thin
    pretraining corpora."""
    e = t(spark, sf_dir, "embeddings")
    copies = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = e.select("vec_id", "embedding").unionByName(copies)
    flags = S.semdedup_flags(corpus, "vec_id", "embedding", 0.99)
    return (
        flags.groupBy("_cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("_dropped").cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("_dropped") == 1, F.col("vec_id")).otherwise(0))
            .cast("long")
            .alias("dropped_id_sum"),
        )
        .select(
            F.col("_cluster").cast("long").alias("cluster"),
            "n_vecs",
            "n_dropped",
            "dropped_id_sum",
        )
        .orderBy("cluster")
    )


@query(
    "embeddings_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 1000000),
    scored AS (
      SELECT q.query_id, c.vec_id AS neg_id, c.label AS neg_label,
             {_cos('q.qv', 'c.embedding')} AS cs
      FROM q, embeddings c
      WHERE q.query_id <> c.vec_id AND q.qlabel <> c.label
    ),
    ranked AS (
      SELECT query_id, neg_id, neg_label,
             CAST(round(cs * 1000000000) AS BIGINT) AS cos_ppb,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neg_id) AS rank
      FROM scored
    )
    SELECT query_id, neg_id, neg_label, cos_ppb, rank
    FROM ranked WHERE rank <= 5
    """,
)
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the contrastive-training data-prep step
    (ANCE / DPR-style): for each query, the top-5 most-similar vectors
    whose LABEL DIFFERS — maximally confusable wrong answers, which
    train retrieval models far better than random negatives. The label
    exclusion composes with the exact top-k contract (total tie-break
    on id); cosines ship as integer ppb ([[ann_topk_pandas]]'s rounding
    convention absorbs the BLAS-vs-fold last-ulp).

    Scale shape: one exact top-k leg per label group — queries labeled
    L mine the label≠L corpus slice, so the top-5 comes from the FULL
    cross-label candidate set (a global pre-top-k with headroom would
    silently truncate whenever a query's nearest neighbors are all
    same-label). |labels| is a bounded vocabulary; each leg is the
    BLAS pandas path, and at 100 TB the ANN candidate generators drop
    into the same per-group structure."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    )
    # EXACT with the label exclusion INSIDE the BLAS op (round-9, the
    # mutual_topk_pandas single-pass trick — was one full corpus leg
    # per label, |labels|× the scan+gemm work): every query scores
    # against every batch, same-label pairs are masked before candidate
    # selection, so each query's top-5 still comes from the full
    # cross-label candidate set (a global pre-top-k with headroom would
    # silently truncate when a query's nearest neighbors are all
    # same-label). Pair sets per query identical to the per-label legs.
    tk = S.brute_force_topk_pandas(
        queries, e, "vec_id", "embedding", k=5, exclude_label_col="label"
    )
    neg_labels = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return (
        # No broadcast hint: the id->label table is |embeddings| rows
        # (grows with the corpus); AQE broadcasts while small, shuffles
        # once it is not.
        tk.withColumnRenamed("neighbor_id", "neg_id")
        .join(neg_labels, "neg_id")
        .select(
            "query_id",
            "neg_id",
            "neg_label",
            F.round(F.col("cos_sim") * 1000000000)
            .cast("long")
            .alias("cos_ppb"),
            "rank",
        )
    )


def _pca_it_cte(k: int, mat: str = "cov", vp: str = "v") -> str:
    p = f"{vp}{k-1}"
    return f"""
m{vp}{k} AS MATERIALIZED (
  SELECT s.i, SUM(s.s * v.val) AS raw
  FROM {mat} s JOIN {p} v ON v.i = s.j GROUP BY s.i
),
{vp}{k} AS MATERIALIZED (
  SELECT i, raw // (SELECT GREATEST(MAX(abs(raw)) // 1000000, 1)
                    FROM m{vp}{k}) AS val
  FROM m{vp}{k}
)"""


#: shared exact-integer covariance CTE block (q → mean → cent → cov) —
#: the DuckDB twin of _pca_cov_panel
_PCA_COV_SQL = """q AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT) AS xq
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    mean AS MATERIALIZED (
      SELECT i, SUM(xq) // COUNT(*) AS m FROM q GROUP BY i
    ),
    cent AS MATERIALIZED (
      SELECT q.vec_id, q.i, q.xq - m.m AS c FROM q JOIN mean m ON m.i = q.i
    ),
    cov AS MATERIALIZED (
      SELECT a.i, b.i AS j, SUM(a.c * b.c) // 1000000 AS s
      FROM cent a JOIN cent b ON b.vec_id = a.vec_id
      GROUP BY a.i, b.i
    )"""


@query(
    "embeddings_pca_power_iteration",
    oracle="""
    WITH """
    + _PCA_COV_SQL
    + """,
    v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS val FROM mean),"""
    + ",".join(_pca_it_cte(k) for k in range(1, 7))
    + """
    , tr AS (SELECT SUM(s) AS trace FROM cov WHERE i = j),
    lam AS (SELECT MAX(abs(raw)) // 1000000 AS lam FROM mv6)
    SELECT CAST((SELECT lam FROM lam) AS BIGINT) AS lambda_est,
           CAST((SELECT trace FROM tr) AS BIGINT) AS trace_total,
           CAST(((SELECT lam FROM lam) * 1000000)
                // (SELECT trace FROM tr) AS BIGINT) AS share_ppm,
           CAST((SELECT SUM(i * val) FROM v6) AS BIGINT) AS vec_checksum,
           CAST((SELECT MIN(i) FROM v6
                 WHERE abs(val) = (SELECT MAX(abs(val)) FROM v6))
                AS INTEGER) AS top_dim
    """,
)
def embeddings_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE PCA — the top principal component by POWER ITERATION,
    bit-reproducible: embeddings quantize once to integer micro-units,
    the d×d covariance accumulates as EXACT integer products (one
    map-side-combined groupBy over the per-document coordinate
    self-join), and six matrix-vector rounds run on the collected
    4096-row matrix — the k×d-centroid bounded-panel pattern — with
    max-abs renormalization as a single integer division per round.
    Every division TRUNCATES toward zero on both engines (negative
    covariance entries make floor-vs-truncate a real divergence — the
    Python-// pitfall). Reported: the dominant eigenvalue estimate
    (the last round's growth factor), its share of total variance
    (λ/trace in ppm — the 'how much does one direction explain'
    number), a position-weighted eigenvector checksum, and the top
    loading dimension.

    Completes the in-engine ML roster (OLS, logistic GD, ALS, trees,
    k-means, [[nations_trade_pagerank]]'s graph power iteration) with
    the decorrelation primitive; [[embeddings_jl_projection]] is the
    data-independent alternative when no spectrum is needed.

    Scale shape: the covariance pass is the only corpus-sized work —
    d² accumulators via one shuffle (at 100 TB: mapInPandas per-batch
    outer products into the same d² cells); iterations ride the driver
    on the bounded panel."""
    e = t(spark, sf_dir, "embeddings")
    S_, dims, trace = _pca_cov_panel(spark, e)
    lam, v = _pca_power_iterate(S_, dims, rounds=6)
    top = max(dims, key=lambda i: (abs(v[i]), -i))
    out = [
        (
            int(lam),
            int(trace),
            int((lam * 10**6) // trace),
            int(sum(i * v[i] for i in dims)),
            int(top),
        )
    ]
    return spark.createDataFrame(
        out,
        "lambda_est long, trace_total long, share_ppm long, "
        "vec_checksum long, top_dim int",
    )


def _pca_cov_panel(spark: SparkSession, e: DataFrame):
    """(S, dims, trace): the exact-integer d×d covariance panel of the
    embedding table — micro-unit quantization, per-batch int64 outer
    products (numpy matmul — exact), one tiny d² groupBy merge, and a
    driver collect of the BOUNDED panel. Shared by the one- and
    two-component PCA queries."""
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("xq"),
    )
    mean = q.groupBy("i").agg(F.expr("sum(xq) div count(1)").alias("m"))
    # covariance via per-batch INTEGER outer products (numpy int64
    # matmul — exact), not a per-coordinate self-join: the relational
    # form shuffles |docs|·d² rows (measured 25s at sf1.0); this emits
    # d² partial cells per batch and one tiny groupBy merges them
    mean_rows = {r["i"]: r["m"] for r in mean.collect()}  # d values
    m_b = spark.sparkContext.broadcast(mean_rows)

    def cov_op(batches):
        import numpy as np
        import pandas as pd

        mm = m_b.value
        d_ = len(mm)
        mvec = np.array([mm[i] for i in range(1, d_ + 1)], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            y = x * 1000000
            # round HALF AWAY FROM ZERO — np.rint is half-even and
            # would diverge from Spark round()/DuckDB round() exactly
            # on representable .5 products
            xq = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            cq = xq - mvec[None, :]
            cc = cq.T @ cq  # exact int64 accumulation
            ii, jj = np.meshgrid(
                np.arange(1, d_ + 1), np.arange(1, d_ + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "p": cc.ravel()}
            )

    from ..session import python_stage

    cov_rows = (
        python_stage(e.select("embedding"), cov_op, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.expr("sum(p) div 1000000").alias("s"))
        .collect()  # d² rows — the bounded panel the iterations ride
    )
    S = {(r["i"], r["j"]): r["s"] for r in cov_rows}
    dims = sorted({i for i, _ in S})
    trace = sum(S[(i, i)] for i in dims)
    return S, dims, trace


def _pca_tdiv(a: int, b: int) -> int:
    # truncate toward zero — Spark div / DuckDB // semantics
    return -((-a) // b) if a < 0 else a // b


def _pca_power_iterate(S: dict, dims: list, rounds: int = 6):
    """(lam, v): ``rounds`` integer power-iteration steps on the
    collected panel, max-abs renormalization to 1e6 per round, every
    division truncating toward zero."""
    v = {i: 10**6 for i in dims}
    lam = 1
    for _ in range(rounds):
        raw = {
            i: sum(S[(i, j)] * v[j] for j in dims if (i, j) in S)
            for i in dims
        }
        d_ = max(max(abs(x) for x in raw.values()) // 10**6, 1)
        lam = d_
        v = {i: _pca_tdiv(raw[i], d_) for i in dims}
    return lam, v


@query(
    "embeddings_pca_two_components",
    oracle="""
    WITH """
    + _PCA_COV_SQL
    + """,
    v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS val FROM mean),"""
    + ",".join(_pca_it_cte(k) for k in range(1, 7))
    + """,
    lam1 AS (SELECT MAX(abs(raw)) // 1000000 AS lam FROM mv6),
    vd AS MATERIALIZED (SELECT i, val // 1000 AS vd FROM v6),
    n2d AS (SELECT SUM(vd * vd) AS n2 FROM vd),
    cov2 AS MATERIALIZED (
      SELECT s.i, s.j,
             s.s - ((SELECT lam FROM lam1) * a.vd * b.vd)
                   // (SELECT n2 FROM n2d) AS s
      FROM cov s JOIN vd a ON a.i = s.i JOIN vd b ON b.i = s.j
    ),
    w0 AS (SELECT i, CAST(1000000 AS BIGINT) AS val FROM mean),"""
    + ",".join(_pca_it_cte(k, mat="cov2", vp="w") for k in range(1, 7))
    + """,
    lam2 AS (SELECT MAX(abs(raw)) // 1000000 AS lam FROM mw6),
    tr AS (SELECT SUM(s) AS trace FROM cov WHERE i = j),
    ortho AS (SELECT SUM(a.val * b.val) AS o
              FROM v6 a JOIN w6 b ON b.i = a.i)
    SELECT 1 AS component,
           CAST((SELECT lam FROM lam1) AS BIGINT) AS lambda_est,
           CAST(((SELECT lam FROM lam1) * 1000000)
                // (SELECT trace FROM tr) AS BIGINT) AS share_ppm,
           CAST((SELECT SUM(i * val) FROM v6) AS BIGINT) AS vec_checksum,
           CAST((SELECT MIN(i) FROM v6
                 WHERE abs(val) = (SELECT MAX(abs(val)) FROM v6))
                AS INTEGER) AS top_dim,
           CAST((SELECT o FROM ortho) AS BIGINT) AS ortho_raw
    UNION ALL
    SELECT 2,
           CAST((SELECT lam FROM lam2) AS BIGINT),
           CAST(((SELECT lam FROM lam2) * 1000000)
                // (SELECT trace FROM tr) AS BIGINT),
           CAST((SELECT SUM(i * val) FROM w6) AS BIGINT),
           CAST((SELECT MIN(i) FROM w6
                 WHERE abs(val) = (SELECT MAX(abs(val)) FROM w6))
                AS INTEGER),
           CAST((SELECT o FROM ortho) AS BIGINT)
    """,
)
def embeddings_pca_two_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-COMPONENT PCA VIA INTEGER DEFLATION — the step that turns
    [[embeddings_pca_power_iteration]]'s single-direction primitive
    into an actual k-component decorrelator (the whitening transform
    semdedup / DSIR preprocessing wants): after the top component
    (λ1, v1) converges, the rank-1 term λ1·v̂v̂ᵀ is subtracted from the
    covariance panel IN THE SAME INTEGER ARITHMETIC and the iteration
    reruns on the deflated matrix for (λ2, v2). To keep every product
    inside int64, v1 requantizes from micro-units to KILO-units for
    the deflation (λ1·vd_i·vd_j ≤ λ1·10⁶ — the explicit overflow
    budget; the ~1e-3 quantization leak is far below the residual of
    six-round convergence and identical on both engines). Every
    division truncates toward zero (Spark div / DuckDB // — the
    Python-// pitfall), so deflated cells, both eigenpairs, and the
    cross-component dot are bit-reproducible.

    Reported per component: λ, its variance share (λ/trace ppm), the
    position-weighted eigenvector checksum, the top loading dimension
    — plus ortho_raw = v1·v2 in micro-unit² (self-dots are ~10¹³), the
    orthogonality checksum that catches a botched deflation instantly
    (a sign error or missing normalization reads ~the self-dot scale).
    Calibration note: this fixture is deliberately near-isotropic —
    share_ppm ≈ 24.5k vs 23.6k against a 15.6k flat-spectrum baseline
    — so six rounds leave measurable eigenvector cross-talk and the
    checksum REPORTS that residual (|v1·v2| ≈ 9% of the self-dot
    scale) rather than asserting zero; on a spiked spectrum (λ1 ≫ λ2,
    the real-corpus case) the same arithmetic drives it toward 0.

    Scale shape: identical to the one-component query — the corpus is
    touched ONCE for the d² covariance panel (per-batch int64 outer
    products); deflation and both iteration chains ride the driver on
    the bounded panel. Extending to k components is k repetitions of
    the same panel-sized step, never another corpus pass."""
    e = t(spark, sf_dir, "embeddings")
    S_, dims, trace = _pca_cov_panel(spark, e)
    lam1, v1 = _pca_power_iterate(S_, dims, rounds=6)
    vd = {i: _pca_tdiv(v1[i], 1000) for i in dims}
    n2d = sum(x * x for x in vd.values())
    S2 = {
        (i, j): S_[(i, j)] - _pca_tdiv(lam1 * vd[i] * vd[j], n2d)
        for (i, j) in S_
    }
    lam2, v2 = _pca_power_iterate(S2, dims, rounds=6)
    ortho = sum(v1[i] * v2[i] for i in dims)

    def row(comp: int, lam: int, v: dict) -> tuple:
        top = max(dims, key=lambda i: (abs(v[i]), -i))
        return (
            comp,
            int(lam),
            int((lam * 10**6) // trace),
            int(sum(i * v[i] for i in dims)),
            int(top),
            int(ortho),
        )

    return spark.createDataFrame(
        [row(1, lam1, v1), row(2, lam2, v2)],
        "component int, lambda_est long, share_ppm long, "
        "vec_checksum long, top_dim int, ortho_raw long",
    )
