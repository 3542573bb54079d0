"""Deduplication queries over the documents corpus.

The corpus has no natural duplicates, so each query injects them
deterministically: mutated copies of every 10th document (token
appended / token dropped) under ``doc_id + 100000``. The Spark side
runs the real operators (operators/dedup.py); the oracles rebuild the
same signatures/pairs in DuckDB with the identical portable hash
(polynomial char fold mod 2^31-1 — verified bit-equal). The corpus,
shingle, signature, candidate and verify pieces come from
``text_kit``, once per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators import dedup as D
from . import text_kit as K
from .catalog import query, run_tmpdir, t
from .stream_kit import replay, staged_replay

# ---------------------------------------------------------------------------
# Corpora with planted duplicates (text_kit.variant_corpus specs)
# ---------------------------------------------------------------------------

#: every document, plus an exact copy of each %10 == 0 one and a
#: one-token edit of each %10 == 5 one, the copies under doc_id + 100000
_PLANTED = (
    (None, 0, "text"),
    ("doc_id % 10 = 0", 100000, "text"),
    ("doc_id % 10 = 5", 100000, "text || ' extra'"),
)
_CORPUS_SQL = f"WITH {K.variant_corpus_sql(_PLANTED)}"

#: every 10th document in four versions: the original, an exact copy and
#: two successive one-token edits, so the pair graph has multi-hop paths
#: (orig ~ copy ~ +extra ~ +extra extra) and transitivity matters
_CHAIN = (
    (None, 0, "text"),
    (None, 100000, "text"),
    (None, 200000, "text || ' extra'"),
    (None, 300000, "text || ' extra extra'"),
)
_CHAIN_WHERE = "doc_id % 10 = 0"
_CHAIN_CORPUS_SQL = f"WITH RECURSIVE {K.variant_corpus_sql(_CHAIN, _CHAIN_WHERE)}"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return K.variant_corpus(t(spark, sf_dir, "documents"), _PLANTED)


def _chain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return K.variant_corpus(t(spark, sf_dir, "documents"), _CHAIN, _CHAIN_WHERE)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=_CORPUS_SQL
    + f"""
    , fp AS (
      SELECT doc_id,
             {K.FINGERPRINT_SQL} AS fingerprint,
             row_number() OVER (
               PARTITION BY {K.FINGERPRINT_SQL}
               ORDER BY doc_id) AS dup_rank
      FROM corpus
    )
    SELECT
      COUNT(*) AS total_docs,
      CAST(SUM(CASE WHEN dup_rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS surviving_docs,
      CAST(SUM(CASE WHEN dup_rank > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_docs
    FROM fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-fingerprint group-by, first (lowest id) wins.
    One shuffle on the fingerprint — at 100 TB this is the cheap first
    pass that typically removes ~30% of a web corpus."""
    ranked = D.exact_dedup(_corpus(spark, sf_dir), "doc_id", "text")
    return ranked.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.when(F.col("_dup_rank") == 1, 1).otherwise(0)).alias("surviving_docs"),
        F.sum(F.when(F.col("_dup_rank") > 1, 1).otherwise(0)).alias("removed_docs"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

@query(
    "dedup_minhash_lsh",
    oracle=f"""{_CORPUS_SQL},
    {K.near_dup_sql('corpus')}
    SELECT id_a AS _id_a, id_b AS _id_b, {K.JACCARD_SQL} AS jaccard
    FROM scored WHERE {K.JACCARD_SQL} >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dedup end-to-end: 3-word shingles → 16 minhashes
    → 4 bands → bucket-join candidates → exact-Jaccard verify ≥ 0.5.
    Fully relational (explode/groupBy/join) — the oracle reproduces the
    identical signatures in SQL. At corpus scale the only quadratic step
    is within-bucket pairing, bounded by the banding s-curve."""
    return K.near_dup_pairs(_corpus(spark, sf_dir))


# ---------------------------------------------------------------------------
# Duplicate-cluster canonicalization (connected components over the
# near-dup pair graph)
# ---------------------------------------------------------------------------

_PAIRS_BLOCKS_SQL = f""",
    {K.near_dup_sql('corpus')},
    pairs AS (SELECT id_a, id_b FROM scored WHERE {K.JACCARD_SQL} >= 0.5)
"""


@query(
    "dedup_clusters",
    oracle=_CHAIN_CORPUS_SQL
    + _PAIRS_BLOCKS_SQL
    + """
    , edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    labels AS (SELECT node, MIN(r) AS comp FROM walk GROUP BY node)
    SELECT comp AS cluster_rep, COUNT(*) AS n_members, MAX(node) AS max_member
    FROM labels GROUP BY comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER canonicalization: MinHash/LSH pair detection
    over an edit-chain corpus, then connected components (iterative
    min-label propagation, operators/dedup.py) so A~B~C collapses to
    one canonical representative — the transitive step pairwise dedup
    can't express, and what a real corpus dedup keeps per cluster.
    Per-cluster rollup: representative (min id), member count, max id.

    The oracle replays pair detection with the identical portable
    hashes and resolves reachability with a recursive CTE — the
    fixpoints agree exactly. The Spark loop is O(graph diameter)
    bounded shuffles; edit-chain clusters are shallow."""
    corpus = _chain_corpus(spark, sf_dir)
    pairs = K.near_dup_pairs(corpus)
    labels = D.connected_components(pairs)
    return (
        labels.groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_member"),
        )
        .select(
            F.col("comp").alias("cluster_rep"),
            "n_members",
            "max_member",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_sql(src: str) -> str:
    """``sigs`` (doc_id, simhash) over the (doc_id, text) CTE ``src``:
    SQL twin of ``operators.dedup.simhash_signature`` at 62 bits."""
    bits = [
        f"SUM(CASE WHEN ({'h' if j < 31 else 'h2'} // {1 << (j % 31)}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS s{j}"
        for j in range(62)
    ]
    sig = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(62))
    return f"""sigs AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
      FROM (
        SELECT doc_id, {', '.join(bits)}
        FROM (
          SELECT doc_id, h, ({D.A2} * h + {D.B2}) % 2147483647 AS h2
          FROM (SELECT doc_id, {K.char_fold_sql('tok')} AS h
                FROM (SELECT doc_id, unnest({K.TOKENS_SQL}) AS tok FROM {src}))
        ) GROUP BY doc_id
      )
    )"""


@query(
    "dedup_simhash",
    oracle=f"""{_CORPUS_SQL},
    {_simhash_sql('corpus')}
    SELECT a.doc_id AS _id_a, b.doc_id AS _id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup: 62-bit frequency-weighted fingerprints (two
    affine char hashes per token supply the bit pool), Hamming ≤ 3
    pairs found via pigeonhole banding (4 chunks — a pair within
    distance 3 must agree on one whole chunk), so no all-pairs scan.
    The oracle checks the same pair set the slow way (its corpus is
    small); signatures are bit-identical across engines.

    The banding self-join evaluates its input once PER SIDE, and the
    signature pipeline (tokenize, dim hash join, 62-way bit-sum
    aggregate — measured 1.8 s of the query's 2.2 s at sf0.1) sits
    entirely AFTER its last exchange, so ReuseExchange cannot dedup it
    — without a checkpoint the whole corpus pass runs twice.
    localCheckpoint materializes the |docs|-row signature table once;
    both join sides read the checkpointed blocks (GC-collectable, not
    a leaked cache)."""
    sigs = D.simhash_signature(
        _corpus(spark, sf_dir), "doc_id", "text", bits=62
    ).localCheckpoint()
    return D.simhash_pairs(sigs, "doc_id", max_hamming=3, bits=62).select(
        "_id_a", "_id_b", "hamming"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (bounded candidate set, no LSH)
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""{_CORPUS_SQL},
    shingled AS ({K.shingles_sql('corpus', 3)}),
    subset AS (SELECT DISTINCT doc_id FROM corpus WHERE doc_id % 20 = 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM subset a JOIN subset b ON a.doc_id < b.doc_id
    )
    SELECT id_a AS _id_a, id_b AS _id_b, {K.JACCARD_SQL} AS jaccard
    FROM ({K.verified_sql('pairs', 'shingled')})
    WHERE {K.JACCARD_SQL} >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over every-20th-doc, threshold 0.3 — the
    LSH-free form. Candidates come from PREFIX FILTERING (the PPJoin
    rule, reused from [[dedup_prefix_filter_join]]): order each
    shingle set rarest-first, keep the first ``s - ceil(t·s) + 1``
    elements, equi-join on prefix shingles — PERFECT recall at the
    threshold, so the result is identical to the all-pairs scan the
    oracle still runs, but the Spark plan carries no CartesianProduct:
    at 100× corpus the old ``subset × subset`` crossJoin was (N/20)²
    pairs, the prefix equi-join is Σ collisions on deliberately RARE
    keys (anti-skewed by construction). Exact verify is one
    ``array_intersect`` per surviving candidate
    (``tests/test_plan_shapes.py`` pins the no-cartesian contract)."""
    corpus = _corpus(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    # `sets` feeds the frequency pass, the prefix-ordering window, both
    # prefix-join sides and both verify attaches, and the shingle fold
    # is pure scan projection with no exchange for ReuseExchange to
    # share: without the checkpoints the plan scans the corpus 18 times
    sets = D.shingle_sets(corpus, "doc_id", "text", 3).localCheckpoint()
    rows = sets.select("doc_id", F.explode("_shs").alias("_shash"))
    freq = rows.groupBy("_shash").agg(F.count(F.lit(1)).alias("df"))
    w_ord = Window.partitionBy("doc_id").orderBy("df", "_shash")
    w_sz = Window.partitionBy("doc_id")
    ordered = (
        rows.join(freq, "_shash")
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("sz", F.count(F.lit(1)).over(w_sz))
    )
    # t = 0.3: prefix length = s - ceil(0.3 s) + 1 (pigeonhole: two sets
    # with J >= t must share a prefix element)
    prefix_len = F.col("sz") - ((3 * F.col("sz") + 9) / 10).cast("long") + 1
    prefix = ordered.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "_shash", "sz", "rn"
    ).localCheckpoint()
    a, b = prefix.alias("a"), prefix.alias("b")
    # length + positional necessary conditions for J >= 0.3 (see
    # dedup_prefix_filter_join): 10|A| >= 3|B| both ways; overlap bound
    # min(|A|-rn_a, |B|-rn_b)+1 must reach α = ceil(3(|A|+|B|)/13)
    alpha = ((3 * (F.col("a.sz") + F.col("b.sz")) + 12) / 13).cast("long")
    remaining = (
        F.least(F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")) + 1
    )
    pairs = (
        a.join(
            b,
            (F.col("a._shash") == F.col("b._shash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (10 * F.col("a.sz") >= 3 * F.col("b.sz"))
            & (10 * F.col("b.sz") >= 3 * F.col("a.sz"))
            & (remaining >= alpha),
        )
        .select(F.col("a.doc_id").alias("_id_a"), F.col("b.doc_id").alias("_id_b"))
        .distinct()
    )
    verified = D.jaccard_on_pairs(pairs, sets, "doc_id")
    return verified.filter(F.col("jaccard") >= 0.3).select("_id_a", "_id_b", "jaccard")


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out eval set)
# ---------------------------------------------------------------------------


_DECON_K = 8


@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
      UNION ALL
      SELECT doc_id + 500000, 'copy: ' || text FROM documents
      WHERE doc_id % 25 = 0
    ),
    evalset AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
    ),
    ts AS ({K.shingles_sql('train', _DECON_K)}),
    es AS ({K.shingles_sql('evalset', _DECON_K)})
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           COUNT(*) AS n_shared_ngrams
    FROM ts t JOIN es e ON t.shash = e.shash
    GROUP BY t.doc_id, e.doc_id
    HAVING COUNT(*) >= 5
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing ≥5
    distinct 8-gram shingles with a held-out eval set (every 50th doc;
    contaminated copies are injected deterministically so the detector
    has true positives). The step every serious pretraining pipeline
    runs before training — and the reason eval numbers can be trusted.

    Scale shape: both sides reduce to DISTINCT (doc, shingle-hash)
    rows; the contamination check is one equi-join on the hash — the
    eval side is benchmark-sized (broadcastable), so the 100 TB train
    side streams through a broadcast-hash join with zero wide shuffle,
    then a map-side-combined pair count."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0).unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.lit("copy: "), F.col("text")).alias("text"),
        )
    )
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    ts = D.shingle_rows(train, "doc_id", "text", _DECON_K).distinct()
    es = (
        D.shingle_rows(evalset, "doc_id", "text", _DECON_K)
        .distinct()
        .withColumnRenamed("doc_id", "eval_id")
    )
    return (
        ts.withColumnRenamed("doc_id", "train_id")
        .join(F.broadcast(es), "_shash")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= 5)
    )


# ---------------------------------------------------------------------------
# Log-diameter connected components (large-star/small-star) on a path graph
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters_largestar",
    oracle="""
    WITH labeled AS (
      SELECT doc_id AS node, MIN(doc_id) OVER (PARTITION BY doc_id % 3) AS comp
      FROM documents
    )
    SELECT comp AS cluster_rep, COUNT(*) AS n_members, MAX(node) AS max_member
    FROM labeled GROUP BY comp
    """,
)
def dedup_clusters_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on an ADVERSARIAL long-path graph via
    alternating large-star/small-star rounds
    (operators/dedup.connected_components_star, after Kiveris et al.
    SoCC'14). The fixture chains consecutive doc_ids within each
    residue class mod 3 — three paths of length |docs|/3 (~1,700 hops
    at sf0.01), the exact graph where the direct min-label loop in
    dedup_clusters would need one shuffle round PER HOP and a 100 TB
    dedup graph with edit chains would never converge. The star
    rounds halve path lengths each pass, so the same component labels
    arrive in O(log L) rounds of plain equi-joins.

    The oracle never needs recursion: a chained residue class is one
    component by construction, so comp = MIN(doc_id) over the class —
    which is precisely what the star fixpoint must output. Rollup
    mirrors dedup_clusters (representative, size, max member)."""
    from ..operators.dedup import connected_components_star

    d = t(spark, sf_dir, "documents").select("doc_id")
    w = Window.partitionBy(F.col("doc_id") % 3).orderBy("doc_id")
    edges = (
        d.select("doc_id", F.lead("doc_id").over(w).alias("next_id"))
        .filter(F.col("next_id").isNotNull())
        .select(F.col("doc_id").alias("_id_a"), F.col("next_id").alias("_id_b"))
    )
    labels = connected_components_star(edges, max_iter=30)
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("node").alias("max_member"))
        .select(F.col("comp").alias("cluster_rep"), "n_members", "max_member")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: today's batch against yesterday's fingerprint store
# ---------------------------------------------------------------------------


@query(
    "dedup_incremental_against_store",
    oracle=f"""
    WITH store AS (
      SELECT DISTINCT {K.FINGERPRINT_SQL}
               AS fingerprint
      FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
      SELECT doc_id, source,
             {K.FINGERPRINT_SQL}
               AS fingerprint
      FROM documents
    ),
    fresh AS (
      SELECT b.*,
             ROW_NUMBER() OVER (PARTITION BY b.fingerprint
                                ORDER BY b.doc_id) AS rn
      FROM batch b LEFT JOIN store s USING (fingerprint)
      WHERE s.fingerprint IS NULL
    )
    SELECT source,
           COUNT(*) AS n_batch_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_docs
    FROM fresh GROUP BY source
    """,
)
def dedup_incremental_against_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: today's crawl batch is deduplicated
    against the HISTORY of everything already ingested — but the
    history participates only as its fingerprint store (one md5 per
    ever-seen document), never as text. This is the only dedup shape
    that survives a daily 100 TB pipeline: cost is
    O(batch + |store ∩ batch-keys|), the store is append-only (the
    kept fingerprints union in after the run), and re-crawled content
    is dropped without touching a byte of the historical corpus.

    Fixture: the store is the even-doc_id half of the corpus; the
    batch is the full corpus — so every even doc must be recognized as
    already-seen (anti-join on fingerprint) and the odd docs dedupe
    among themselves (first-wins window), rolled up per source.

    Shape: one shuffle of the batch on fingerprint serving both the
    anti-join and the within-batch window — the store side is just
    (fingerprint) rows, co-partitioned on the same key."""
    from ..functions.text import fingerprint_md5

    d = t(spark, sf_dir, "documents")
    store = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint_md5(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    batch = d.select(
        "doc_id", "source", fingerprint_md5(F.col("text")).alias("fingerprint")
    )
    fresh = batch.join(store, "fingerprint", "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    ranked = fresh.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_new_docs"),
    )


# ---------------------------------------------------------------------------
# STREAMING near-dup ingest: banded MinHash candidates per micro-batch
# against the static fingerprint store (streaming/neardup.py)
# ---------------------------------------------------------------------------


@query(
    "streaming_neardup_ingest",
    oracle=f"""
    WITH incoming AS (
      SELECT doc_id + 100000 AS doc_id, text,
             'exact_copy' AS ingest_class
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 100000, text || ' extra', 'near_copy'
      FROM documents WHERE doc_id % 10 = 5
      UNION ALL
      SELECT doc_id + 200000,
             'novel document ' || CAST(doc_id AS VARCHAR)
               || ' unseen content payload',
             'novel'
      FROM documents WHERE doc_id % 10 = 2
    ),
    store_sh AS ({K.shingles_sql('documents', 3)}),
    in_sh AS ({K.shingles_sql('incoming', 3)}),
    store_buckets AS (SELECT DISTINCT band, bucket FROM ({K.buckets_sql('store_sh')})),
    in_buckets AS ({K.buckets_sql('in_sh')}),
    hits AS (
      SELECT DISTINCT i.doc_id
      FROM in_buckets i JOIN store_buckets s
        ON i.band = s.band AND i.bucket = s.bucket
    )
    SELECT i.ingest_class,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_passed
    FROM incoming i LEFT JOIN hits h USING (doc_id)
    GROUP BY i.ingest_class
    """,
)
def streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP DETECTION AT INGEST — the streaming composition of
    [[dedup_incremental_against_store]]'s fingerprint-store contract
    with [[events_stream_static_join]]'s stream-static equi-join: the
    incoming document stream is flagged PER MICRO-BATCH against the
    banded-MinHash store of everything already accepted, which is how
    a 100 TB/day pipeline actually dedups (at the door, not as a batch
    job over the accumulated corpus). History participates only as
    (band, bucket) signature rows — n_bands short strings per accepted
    document, never text.

    Fixture: the store is the original corpus; the stream delivers
    exact re-crawls of every 10th document (every band must match),
    one-token-appended near copies of the %10==5 docs (caught iff ≥1
    of the 4 bands survives the edit — the banding s-curve, identical
    and deterministic on both engines), and synthesized genuinely
    novel documents (no shingle overlap — must pass). The rollup per
    ingest class is what an ingest monitor alerts on.

    Replay idempotence (pinned in tests/test_streaming.py): each
    micro-batch's per-doc flags land under ``batch_id=N`` with
    OVERWRITE semantics — a checkpoint-recovery replay of batch N
    rewrites the same directory instead of double-counting.

    Scale shape: per batch, ONE codegen shuffle builds signatures
    (operators/dedup.shingle_sets_with_signatures), then a left-semi
    equi-join probes the store on (band, bucket) — AQE broadcasts a
    small store, shuffles a co-partitioned large one; no watermark, no
    state server (the store IS the state, append-only)."""
    from ..streaming.neardup import build_band_store, run_neardup_ingest

    d = t(spark, sf_dir, "documents")
    # the static store: materialized once (localCheckpoint) so the
    # per-batch probe re-reads |history|·bands tiny rows, not the plan
    store = build_band_store(d, "doc_id", "text").localCheckpoint()
    src = replay(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    # one scan with CASE-branched projections emits all three ingest
    # classes (they partition on doc_id % 10), not three scans of each
    # micro-batch's files
    mod = did % 10
    incoming = src.filter(mod.isin(0, 5, 2)).select(
        F.when(mod == 2, did + 200000).otherwise(did + 100000).alias("doc_id"),
        F.when(mod == 0, F.col("text"))
        .when(mod == 5, F.concat(F.col("text"), F.lit(" extra")))
        .otherwise(
            F.concat(
                F.lit("novel document "),
                did.cast("string"),
                F.lit(" unseen content payload"),
            )
        )
        .alias("text"),
        F.when(mod == 0, F.lit("exact_copy"))
        .when(mod == 5, F.lit("near_copy"))
        .otherwise(F.lit("novel"))
        .alias("ingest_class"),
    )
    # The rollup is 3 rows but the flags parquet is row-scale: collect
    # the rollup eagerly and rmtree the run dir in finally (the
    # doc_label_propagation eager-aggregate pattern), so a long-lived
    # bench/oracle session doesn't accumulate per-invocation scratch.
    import shutil

    run = run_tmpdir("neardup_ingest_")
    try:
        run_neardup_ingest(
            spark,
            incoming,
            store,
            f"{run}/flags",
            f"{run}/_ckpt",
            "doc_id",
            "text",
        )
        flags = spark.read.parquet(f"{run}/flags")
        rows = (
            flags.groupBy("ingest_class")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_neardup").cast("long").alias("n_flagged"),
                F.sum(1 - F.col("_neardup")).cast("long").alias("n_passed"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ingest_class string, n_docs long, n_flagged long, n_passed long"
    )


# ---------------------------------------------------------------------------
# STREAMING near-dup ingest with a GROWING store: batch N+1 probes the
# buckets of everything batch N accepted (streaming/neardup.py's
# append leg composed into the drain loop).
# ---------------------------------------------------------------------------


@query(
    "streaming_neardup_store_growth",
    oracle=f"""
    WITH b1 AS (
      SELECT doc_id + 100000 AS doc_id, text,
             'b1_recrawl' AS ingest_class
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 300000,
             'growth document ' || CAST(doc_id AS VARCHAR)
               || ' first sighting payload',
             'b1_novel'
      FROM documents WHERE doc_id % 10 = 3
    ),
    b2 AS (
      SELECT doc_id + 400000 AS doc_id,
             'growth document ' || CAST(doc_id AS VARCHAR)
               || ' first sighting payload' AS text,
             'b2_recrawl_of_b1' AS ingest_class
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 500000,
             'growth document ' || CAST(doc_id AS VARCHAR)
               || ' first sighting payload extra',
             'b2_near_copy_of_b1'
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 600000,
             'second wave ' || CAST(doc_id AS VARCHAR)
               || ' unseen growth payload',
             'b2_novel'
      FROM documents WHERE doc_id % 10 = 7
    ),
    store_sh AS ({K.shingles_sql('documents', 3)}),
    b1_sh AS ({K.shingles_sql('b1', 3)}),
    b2_sh AS ({K.shingles_sql('b2', 3)}),
    store_buckets AS (SELECT DISTINCT band, bucket FROM ({K.buckets_sql('store_sh')})),
    b1_buckets AS ({K.buckets_sql('b1_sh')}),
    b2_buckets AS ({K.buckets_sql('b2_sh')}),
    hits1 AS (
      SELECT DISTINCT i.doc_id
      FROM b1_buckets i JOIN store_buckets s
        ON i.band = s.band AND i.bucket = s.bucket
    ),
    store2 AS (
      SELECT band, bucket FROM store_buckets
      UNION
      SELECT band, bucket FROM b1_buckets
      WHERE doc_id NOT IN (SELECT doc_id FROM hits1)
    ),
    hits2 AS (
      SELECT DISTINCT i.doc_id
      FROM b2_buckets i JOIN store2 s
        ON i.band = s.band AND i.bucket = s.bucket
    ),
    flags AS (
      SELECT i.ingest_class,
             CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS f
      FROM b1 i LEFT JOIN hits1 h USING (doc_id)
      UNION ALL
      SELECT i.ingest_class,
             CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END
      FROM b2 i LEFT JOIN hits2 h USING (doc_id)
    )
    SELECT ingest_class,
           COUNT(*) AS n_docs,
           CAST(SUM(f) AS BIGINT) AS n_flagged,
           CAST(SUM(1 - f) AS BIGINT) AS n_passed
    FROM flags GROUP BY ingest_class
    """,
)
def streaming_neardup_store_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ingest where the store GROWS as batches are accepted —
    [[streaming_neardup_ingest]] closed into an actual loop
    (``run_neardup_ingest(grow_store=True)``): after each micro-batch's
    flags land, the accepted documents' band buckets are appended to
    the store (``streaming/neardup.append_accepted_to_store``), so the
    NEXT batch dedups against them. This is the cross-batch state the
    reference's consume loop keeps in its accumulating ``seen_ids`` set
    (main.py:663-700), generalized from "seen this id" to "seen this
    content, approximately" — and the property the static-store query
    cannot show: batch 2's exact re-crawls of batch-1 novelties are
    flagged even though NO historical document matches them.

    Fixture (two deterministic micro-batches via two staged parquet
    files, maxFilesPerTrigger=1, mtime-ordered — the
    orders_streaming_online_logreg recipe): batch 1 carries re-crawls
    of history (flagged by the initial store) and synthesized novel
    docs (accepted → appended); batch 2 carries exact re-crawls of
    those batch-1 novelties (flagged IFF the store grew — every band
    identical), one-token near copies (banding s-curve against the
    GROWN store), and genuinely novel docs (pass). The oracle unrolls
    the same two sequential probes in SQL: hits1 against the history
    buckets, hits2 against history ∪ batch-1-accepted buckets.

    Deterministic under driver replay: a fresh invocation rebuilds the
    store from scratch and AvailableNow re-delivers both files in mtime
    order; within-run batch replay re-probes the pre-append store
    because the append lands after the flags write (see
    run_neardup_ingest's replay note).

    Scale shape: per batch, one codegen signature shuffle + one
    (band, bucket) equi-join probe + one distinct-union append of
    O(accepted · bands) short rows; the store never holds text and the
    append's localCheckpoint keeps the growing plan's lineage flat."""
    import shutil

    from ..streaming.neardup import build_band_store, run_neardup_ingest

    d = t(spark, sf_dir, "documents")
    store = build_band_store(d, "doc_id", "text").localCheckpoint()
    did = F.col("doc_id")
    novel_text = F.concat(
        F.lit("growth document "),
        did.cast("string"),
        F.lit(" first sighting payload"),
    )
    b1 = (
        d.filter(did % 10 == 0)
        .select(
            (did + 100000).alias("doc_id"),
            "text",
            F.lit("b1_recrawl").alias("ingest_class"),
        )
        .unionByName(
            d.filter(did % 10 == 3).select(
                (did + 300000).alias("doc_id"),
                novel_text.alias("text"),
                F.lit("b1_novel").alias("ingest_class"),
            )
        )
    )
    b2 = (
        d.filter(did % 10 == 3)
        .select(
            (did + 400000).alias("doc_id"),
            novel_text.alias("text"),
            F.lit("b2_recrawl_of_b1").alias("ingest_class"),
        )
        .unionByName(
            d.filter(did % 10 == 3).select(
                (did + 500000).alias("doc_id"),
                F.concat(novel_text, F.lit(" extra")).alias("text"),
                F.lit("b2_near_copy_of_b1").alias("ingest_class"),
            )
        )
        .unionByName(
            d.filter(did % 10 == 7).select(
                (did + 600000).alias("doc_id"),
                F.concat(
                    F.lit("second wave "),
                    did.cast("string"),
                    F.lit(" unseen growth payload"),
                ).alias("text"),
                F.lit("b2_novel").alias("ingest_class"),
            )
        )
    )
    incoming = staged_replay(spark, [b1, b2])
    run = run_tmpdir("neardup_growth_")
    try:
        run_neardup_ingest(
            spark,
            incoming,
            store,
            f"{run}/flags",
            f"{run}/_ckpt",
            "doc_id",
            "text",
            grow_store=True,
        )
        rows = (
            spark.read.parquet(f"{run}/flags")
            .groupBy("ingest_class")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_neardup").cast("long").alias("n_flagged"),
                F.sum(1 - F.col("_neardup")).cast("long").alias("n_passed"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ingest_class string, n_docs long, n_flagged long, n_passed long"
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin family — Xiao et al.
# 2008): the deterministic, recall-exact alternative to LSH for
# Jaccard near-dedup.
# ---------------------------------------------------------------------------


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {K.TOKENS_SQL} AS tk FROM documents),
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS token
      FROM tk WHERE len(tk) >= 3
    ),
    freq AS (
      SELECT token, COUNT(*) AS df FROM toks GROUP BY token
    ),
    ordered AS (
      SELECT t.doc_id, t.token,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.token) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS set_size
      FROM toks t JOIN freq f USING (token)
    ),
    prefix AS (
      SELECT doc_id, token, set_size
      FROM ordered
      WHERE rn <= set_size - CAST((3 * set_size + 4) // 5 AS BIGINT) + 1
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b ON a.token = b.token
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter_size,
             CAST(MIN(x.set_size) + MIN(y.set_size) - COUNT(*) AS BIGINT)
               AS union_size
      FROM cands c
      JOIN ordered x ON x.doc_id = c.doc_a
      JOIN ordered y ON y.doc_id = c.doc_b AND y.token = x.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, inter_size, union_size,
           CAST(inter_size AS DOUBLE) / union_size AS jaccard
    FROM verified
    WHERE 5 * inter_size >= 3 * union_size
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (the PPJoin family):
    each document becomes its set of distinct word 3-gram shingles
    (single-token sets are degenerate on a small vocabulary — shingles
    carry sequence), the set is ordered rarest-first by global shingle
    frequency, and only the first ``s - ceil(t*s) + 1`` shingles
    survive (two sets with Jaccard >= t MUST share a prefix element —
    the pigeonhole guarantee). Candidates come from an equi-join on
    prefix shingles only; exact Jaccard verifies with integer
    arithmetic (``5*inter >= 3*union`` for t = 3/5). Unlike MinHash-LSH
    this has PERFECT recall at the threshold and no hash tables — the
    trade is candidate count growing with prefix collisions.

    Scale shape: the frequency dim is a map-side-combined count; the
    rarest-first ordering makes prefix elements the LOW-frequency ones,
    so the candidate equi-join's key distribution is intentionally
    anti-skewed (the heavy shingles never enter the join). All integer
    math; one double division at the end."""
    d = t(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    toks = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("tk") - 3),
                        lambda i: F.concat_ws(
                            " ", F.col("tk")[i], F.col("tk")[i + 1], F.col("tk")[i + 2]
                        ),
                    )
                )
            ).alias("token"),
        )
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Each doc's rarest-first ordering is decided in-row: ONE
    # groupBy(doc_id) collects (df, token) structs and array_sort orders
    # them (df asc, token asc), so prefix selection is an in-row slice,
    # the verify sets are the same array re-projected, and no row_number
    # window sorts every partition's tokens. A localCheckpoint of
    # docs_arr measured a loss (4.2 vs 2.8 s: it serializes the fat
    # string arrays, and ReuseExchange already shares the one doc_id
    # exchange).
    #
    # Shuffle keys, not payloads: every
    # downstream comparison (prefix equi-join, candidate verify
    # intersect) only needs token IDENTITY, never the string, so each
    # distinct token gets an INJECTIVE int64 id and the ~18-char
    # 3-gram strings never leave the vocab dim:
    #   tid = (row_number() within hash-bucket ordered by token − 1)·B
    #         + bucket,       bucket = pmod(xxhash64(token), B)
    # Distinct tokens in the same bucket differ in rank, in different
    # buckets differ in bucket ⇒ injective BY CONSTRUCTION (this is an
    # exact dense-id assignment, not a probabilistic hash), fully
    # deterministic, and the rank window partitions on B=2^20 buckets
    # — parallel at any vocab size, never a global sort. The verify
    # then intersects int64 arrays instead of string arrays (~2.3× the
    # array bytes and per-element hash/equality cost gone). Measured:
    # sf0.1 interleaved 4.55 → 2.67 s; sf1.0 (6.6M candidate pairs)
    # 135.4 → 45.4 s, parity exact on all 250,600 output rows.
    B = 1 << 20
    bucket = F.pmod(F.xxhash64("token"), F.lit(B)).cast("long")
    w_bucket = Window.partitionBy(bucket).orderBy("token")
    vocab = freq.select(
        "token",
        "df",
        ((F.row_number().over(w_bucket) - 1).cast("long") * B + bucket).alias(
            "tid"
        ),
    )
    docs_arr = (
        toks.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "token", "tid"))).alias(
                "_ord"
            )
        )
        .withColumn("set_size", F.size("_ord"))
    )
    prefix_len = (
        F.col("set_size") - ((3 * F.col("set_size") + 4) / 5).cast("long") + 1
    ).cast("int")
    prefix = (
        docs_arr.select(
            "doc_id",
            "set_size",
            F.posexplode(F.slice("_ord", F.lit(1), prefix_len)).alias("_p", "_s"),
        )
        .select(
            "doc_id",
            "set_size",
            (F.col("_p") + 1).alias("rn"),
            F.col("_s.tid").alias("tid"),
        )
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin LENGTH + POSITIONAL filters alongside the prefix filter
    # (Xiao et al., WWW'08 — both are NECESSARY conditions for J >= 3/5,
    # so recall stays perfect and the oracle's unfiltered candidates
    # verify to the same output): 5·|A| >= 3·|B| both ways, and a match
    # on prefix positions (rn_a, rn_b) can yield at most
    # min(|A|-rn_a, |B|-rn_b)+1 overlap, which must reach
    # α = ceil(3(|A|+|B|)/8). The positional filter is what prunes
    # late-prefix collisions when the shingle vocabulary doesn't grow
    # with the corpus ('rare' shingles still collide across unrelated
    # docs — measured 42M → ~1M candidates on the 10× soak fixture).
    alpha = ((3 * (F.col("a.set_size") + F.col("b.set_size")) + 7) / 8).cast(
        "long"
    )
    remaining = (
        F.least(
            F.col("a.set_size") - F.col("a.rn"),
            F.col("b.set_size") - F.col("b.rn"),
        )
        + 1
    )
    cands = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.col("a.set_size") >= 3 * F.col("b.set_size"))
            & (5 * F.col("b.set_size") >= 3 * F.col("a.set_size"))
            & (remaining >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify on the SAME per-doc arrays, not a second exploded join:
    # each candidate pair is a single codegen array_intersect over two
    # ~|doc|-sized arrays — the exploded (doc, token) x (doc, token)
    # verify join this replaces shuffled the whole shingle stream a
    # second time
    sets = docs_arr.select(
        "doc_id",
        F.transform("_ord", lambda s: s["tid"]).alias("toks"),
        "set_size",
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_size"),
            (F.col("size_a") + F.col("size_b") - inter).alias("union_size"),
        )
    )
    return verified.filter(
        5 * F.col("inter_size") >= 3 * F.col("union_size")
    ).select(
        "doc_a",
        "doc_b",
        "inter_size",
        "union_size",
        (F.col("inter_size").cast("double") / F.col("union_size")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Containment join (asymmetric overlap): quote/inclusion detection,
# where Jaccard misses subset relationships between unequal lengths
# ---------------------------------------------------------------------------


@query(
    "doc_containment_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, shash AS g FROM ({K.shingles_sql('documents', 3)})),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS s FROM toks GROUP BY doc_id),
    freq AS (SELECT g, COUNT(*) AS df FROM toks GROUP BY g),
    ordered AS (
      SELECT t.doc_id, t.g,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.g) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS s
      FROM toks t JOIN freq f USING (g)
    ),
    prefix AS (
      -- containment prefix: |A| - ceil(0.8|A|) + 1 rarest shingles of
      -- the CONTAINED side only
      SELECT doc_id, g FROM ordered
      WHERE rn <= s - CAST((4 * s + 4) // 5 AS BIGINT) + 1
    ),
    cands AS (
      SELECT DISTINCT p.doc_id AS doc_a, t.doc_id AS doc_b
      FROM prefix p JOIN toks t USING (g)
      WHERE p.doc_id <> t.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter_size
      FROM cands c
      JOIN toks x ON x.doc_id = c.doc_a
      JOIN toks y ON y.doc_id = c.doc_b AND y.g = x.g
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b, v.inter_size,
           sa.s AS size_a,
           CAST(v.inter_size AS DOUBLE) / sa.s AS containment
    FROM verified v JOIN sizes sa ON sa.doc_id = v.doc_a
    WHERE 5 * v.inter_size >= 4 * sa.s
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT join (|A∩B| / |A| >= 0.8): finds documents mostly
    INCLUDED in another — quotations, boilerplate wrapping, subset
    near-dups — which symmetric Jaccard misses whenever lengths differ
    (a 50-shingle doc fully contained in a 500-shingle doc has Jaccard
    0.1 but containment 1.0). Candidates come from the contained
    side's rarest-shingle prefix (pigeonhole: containment >= t forces
    a shared element among A's first |A| - ceil(t|A|) + 1), probed
    against the full shingle postings; the verify threshold is exact
    integer arithmetic.

    Scale shape: the prefix side is ~1/5 of each doc's shingles and
    rarest-first (anti-skewed postings probes); verification pulls
    each side's shingle-set ARRAY onto the pair row and intersects
    in-row (the jaccard_on_pairs pattern) — the exploded form (join
    both sides' shingle postings per pair, then count) carries
    |pairs|·|doc| rows through a shuffle and measured 260s on the
    dup-dense sf1.0 sweep vs seconds for the array form. Shingles are
    the portable int64 HASHES (the [[dedup_blocking_quality]]
    convention), not the 3-token strings: the verify arrays shrink
    ~3× and intersect on longs instead of strings — measured 65s → 14s
    at sf1.0 on the same 501k-pair output (hash collisions are
    deterministic and mirrored by the oracle)."""
    d = t(spark, sf_dir, "documents")
    toks = (
        D.shingle_rows(d, "doc_id", "text", 3)
        .distinct()
        .withColumnRenamed("_shash", "g")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    freq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w_ord = Window.partitionBy("doc_id").orderBy("df", "g")
    w_sz = Window.partitionBy("doc_id")
    ordered = (
        toks.join(freq, "g")
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("s", F.count(F.lit(1)).over(w_sz))
    )
    prefix = ordered.filter(
        F.col("rn")
        <= F.col("s") - ((4 * F.col("s") + 4) / 5).cast("long") + 1
    ).select("doc_id", "g")
    cands = (
        prefix.withColumnRenamed("doc_id", "doc_a")
        .join(toks.withColumnRenamed("doc_id", "doc_b"), "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    gsets = toks.groupBy("doc_id").agg(F.collect_set("g").alias("_gs"))
    verified = (
        cands.join(
            gsets.select(F.col("doc_id").alias("doc_a"), F.col("_gs").alias("_gsa")),
            "doc_a",
        )
        .join(
            gsets.select(F.col("doc_id").alias("doc_b"), F.col("_gs").alias("_gsb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_gsa", "_gsb"))
            .cast("long")
            .alias("inter_size"),
        )
    )
    return (
        verified.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("size_a")),
            "doc_a",
        )
        .filter(5 * F.col("inter_size") >= 4 * F.col("size_a"))
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            "size_a",
            (F.col("inter_size").cast("double") / F.col("size_a")).alias(
                "containment"
            ),
        )
    )


# ---------------------------------------------------------------------------
# B-cubed clustering evaluation: how good is the dedup clustering
# against the planted ground truth
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters_bcubed",
    oracle=_CHAIN_CORPUS_SQL
    + _PAIRS_BLOCKS_SQL
    + """
    , edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    cc AS (SELECT node, MIN(r) AS comp FROM walk GROUP BY node),
    items AS (
      SELECT c.doc_id AS node,
             COALESCE(l.comp, c.doc_id) AS comp,
             c.doc_id % 100000 AS truth
      FROM corpus c LEFT JOIN cc l ON l.node = c.doc_id
    ),
    cells AS (
      SELECT comp, truth, CAST(COUNT(*) AS BIGINT) AS n
      FROM items GROUP BY comp, truth
    ),
    csize AS (SELECT comp, CAST(SUM(n) AS BIGINT) AS cs FROM cells GROUP BY comp),
    tsize AS (SELECT truth, CAST(SUM(n) AS BIGINT) AS ts FROM cells GROUP BY truth),
    terms AS (
      SELECT CAST(round(CAST(n * n AS DOUBLE) * 1000000000 / cs) AS BIGINT)
               AS p_ppb,
             CAST(round(CAST(n * n AS DOUBLE) * 1000000000 / ts) AS BIGINT)
               AS r_ppb
      FROM cells JOIN csize USING (comp) JOIN tsize USING (truth)
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items)
    SELECT n_items,
           CAST(SUM(p_ppb) AS BIGINT) AS precision_ppb_sum,
           CAST(SUM(r_ppb) AS BIGINT) AS recall_ppb_sum,
           CAST(SUM(p_ppb) AS DOUBLE) / (1000000000.0 * n_items) AS b3_precision,
           CAST(SUM(r_ppb) AS DOUBLE) / (1000000000.0 * n_items) AS b3_recall
    FROM terms, tot GROUP BY n_items
    """,
)
def dedup_clusters_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-CUBED evaluation of the dedup clustering (Bagga & Baldwin;
    the standard coreference/dedup clustering metric): predicted
    clusters come from the same MinHash-LSH + connected-components
    pipeline as dedup_clusters, ground truth is the planted edit-chain
    group, and B3 precision/recall are per-item purity/completeness
    averages — computed via the cell identity (sum over
    (cluster, truth) cells of n^2/|cluster| resp. n^2/|truth|).
    Singleton documents (never paired) count as their own clusters —
    omitting them silently inflates precision, the classic evaluation
    bug.

    Determinism: each cell term is one division rounded to integer
    ppb, summed exactly. Scale shape: everything after the pair graph
    is dimension-sized aggregates over cluster labels."""
    corpus = _chain_corpus(spark, sf_dir)
    pairs = K.near_dup_pairs(corpus)
    cc = D.connected_components(pairs)
    items = (
        corpus.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("comp"),
            (F.col("doc_id") % 100000).alias("truth"),
        )
    )
    cells = items.groupBy("comp", "truth").agg(F.count(F.lit(1)).alias("n"))
    csize = cells.groupBy("comp").agg(F.sum("n").alias("cs"))
    tsize = cells.groupBy("truth").agg(F.sum("n").alias("ts"))
    terms = (
        cells.join(csize, "comp")
        .join(tsize, "truth")
        .select(
            F.round(
                (F.col("n") * F.col("n")).cast("double") * 1000000000 / F.col("cs")
            )
            .cast("long")
            .alias("p_ppb"),
            F.round(
                (F.col("n") * F.col("n")).cast("double") * 1000000000 / F.col("ts")
            )
            .cast("long")
            .alias("r_ppb"),
        )
    )
    tot = items.agg(F.count(F.lit(1)).alias("n_items"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n_items")
        .agg(
            F.sum("p_ppb").alias("precision_ppb_sum"),
            F.sum("r_ppb").alias("recall_ppb_sum"),
        )
        .select(
            "n_items",
            "precision_ppb_sum",
            "recall_ppb_sum",
            (
                F.col("precision_ppb_sum").cast("double")
                / (1000000000.0 * F.col("n_items"))
            ).alias("b3_precision"),
            (
                F.col("recall_ppb_sum").cast("double")
                / (1000000000.0 * F.col("n_items"))
            ).alias("b3_recall"),
        )
    )


# ---------------------------------------------------------------------------
# Threshold sweep: dedup precision/recall vs the planted ground truth
# ---------------------------------------------------------------------------


@query(
    "dedup_threshold_sweep",
    oracle=f"""{_CORPUS_SQL},
    {K.near_dup_sql('corpus')},
    jac AS (
      SELECT {K.JACCARD_SQL} AS jac, CAST(id_b - id_a = 100000 AS INT) AS is_planted
      FROM scored
    ),
    n_planted AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np FROM documents WHERE doc_id % 5 = 0
    ),
    thresholds(thr_pct) AS (VALUES (50), (70), (90), (100))
    SELECT t.thr_pct,
           CAST(SUM(CASE WHEN s.jac * 100 >= t.thr_pct THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN s.jac * 100 >= t.thr_pct AND s.is_planted = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(round(CAST(SUM(CASE WHEN s.jac * 100 >= t.thr_pct
                                     AND s.is_planted = 1
                                    THEN 1 ELSE 0 END) AS DOUBLE) * 1000000
                      / NULLIF(SUM(CASE WHEN s.jac * 100 >= t.thr_pct
                                        THEN 1 ELSE 0 END), 0)) AS BIGINT)
             AS precision_ppm,
           CAST(round(CAST(SUM(CASE WHEN s.jac * 100 >= t.thr_pct
                                     AND s.is_planted = 1
                                    THEN 1 ELSE 0 END) AS DOUBLE) * 1000000
                      / (SELECT np FROM n_planted)) AS BIGINT) AS recall_ppm
    FROM thresholds t, jac s
    GROUP BY t.thr_pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD SWEEP of the MinHash-LSH dedup against the planted
    ground truth: one pass computes exact Jaccard for every LSH
    candidate pair, then four verify thresholds are evaluated from the
    SAME pair set — precision (found pairs that are the planted
    +100000 twins) and recall (planted twins
    recovered) per threshold, the operating-point curve that picks the
    production threshold. Sweeping post-hoc over one candidate set is
    the cheap way to tune: the expensive LSH stage runs once.

    Planted truth: %10==0 docs get an exact copy, %10==5 a one-token
    edit — so at threshold 1.0 only exact copies remain (precision
    stays 1, recall halves): the sweep shows exactly that elbow."""
    pairs = K.near_dup_pairs(_corpus(spark, sf_dir), threshold=0.0).select(
        "_id_a",
        "_id_b",
        "jaccard",
        (F.col("_id_b") - F.col("_id_a") == 100000).cast("int").alias(
            "is_planted"
        ),
    )
    n_planted = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    # one conditional-sum aggregate over the pair stream, unpivoted to a
    # row per threshold — NOT a 4-row crossJoin: Catalyst plans that as a
    # CartesianProduct whose pair-pipeline side is re-computed once per
    # left partition (measured 87s of an 11s pipeline at sf1.0)
    thrs = (50, 70, 90, 100)

    def hit(thr: int):
        return F.col("jaccard") * 100 >= thr

    def true_hit(thr: int):
        return hit(thr) & (F.col("is_planted") == 1)

    wide = pairs.agg(
        *[F.sum(hit(thr).cast("int")).alias(f"_np_{thr}") for thr in thrs],
        *[
            F.sum(true_hit(thr).cast("int")).alias(f"_nt_{thr}")
            for thr in thrs
        ],
    )
    rows = (
        wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(thr).alias("thr_pct"),
                            F.col(f"_np_{thr}").alias("n_pairs"),
                            F.col(f"_nt_{thr}").alias("n_true"),
                        )
                        for thr in thrs
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        # a global agg over ZERO candidate pairs yields one row of NULL
        # sums → 4 NULL-count rows, where the oracle (and the previous
        # crossJoin+groupBy form) yield 0 rows; sums over a nonempty
        # pair set are never NULL, so this filter only drops that case
        .filter(F.col("n_pairs").isNotNull())
    )
    return rows.select(
        "thr_pct",
        "n_pairs",
        "n_true",
        F.round(
            F.col("n_true").cast("double") * 1000000
            / F.nullif(F.col("n_pairs"), F.lit(0))
        )
        .cast("long")
        .alias("precision_ppm"),
        F.round(F.col("n_true").cast("double") * 1000000 / n_planted)
        .cast("long")
        .alias("recall_ppm"),
    )


@query(
    "dedup_keep_best",
    oracle=_CHAIN_CORPUS_SQL
    + _PAIRS_BLOCKS_SQL
    + """
    , edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    labels AS (SELECT node, MIN(r) AS comp FROM walk GROUP BY node),
    ranked AS (
      SELECT l.comp, l.node, length(c.text) AS quality,
             ROW_NUMBER() OVER (PARTITION BY l.comp
                                ORDER BY length(c.text) DESC, l.node) AS rk
      FROM labels l JOIN corpus c ON c.doc_id = l.node
    )
    SELECT comp AS cluster_rep,
           CAST(MAX(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS kept_doc,
           CAST(MAX(CASE WHEN rk = 1 THEN quality END) AS BIGINT)
             AS kept_quality,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_discarded,
           CAST(SUM(CASE WHEN rk > 1 THEN node ELSE 0 END) AS BIGINT)
             AS discarded_checksum
    FROM ranked GROUP BY comp
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster SURVIVORSHIP — the step after near-dup clustering that
    real corpus curation needs: within each duplicate cluster keep the
    highest-quality member (here: longest text, doc_id tiebreak — the
    policy slot where a trained quality score plugs in) and discard
    the rest, with a checksum certifying exactly WHICH docs were
    dropped. Pipeline: MinHash/LSH pairs → connected components →
    per-cluster argmax by window rank — the rank partitions by
    component, so survivorship costs one more component-keyed shuffle
    after CC, nothing corpus-wide. Compare customer_golden_records for
    the column-level merge variant on entities."""
    corpus = _chain_corpus(spark, sf_dir)
    pairs = K.near_dup_pairs(corpus)
    labels = D.connected_components(pairs)
    scored = labels.join(
        corpus.select(
            F.col("doc_id").alias("node"), F.length("text").alias("quality")
        ),
        "node",
    )
    w = Window.partitionBy("comp").orderBy(F.col("quality").desc(), "node")
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("comp").agg(
        F.max(F.when(F.col("rk") == 1, F.col("node")))
        .cast("long")
        .alias("kept_doc"),
        F.max(F.when(F.col("rk") == 1, F.col("quality")))
        .cast("long")
        .alias("kept_quality"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_discarded"),
        F.sum(F.when(F.col("rk") > 1, F.col("node")).otherwise(0))
        .cast("long")
        .alias("discarded_checksum"),
    ).select(
        F.col("comp").alias("cluster_rep"),
        "kept_doc",
        "kept_quality",
        "n_discarded",
        "discarded_checksum",
    )


@query(
    "dedup_blocking_quality",
    oracle=_CHAIN_CORPUS_SQL
    + _PAIRS_BLOCKS_SQL
    + f"""
    , copairs AS (
      SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
      FROM shingled sa
      JOIN shingled sb ON sb.shash = sa.shash AND sa.doc_id < sb.doc_id
    ),
    truth AS (
      SELECT id_a, id_b FROM ({K.verified_sql('copairs', 'shingled')})
      WHERE {K.JACCARD_SQL} >= 0.5
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM corpus) AS nd,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM cands) AS n_cand,
             (SELECT COUNT(*) FROM cands c
              JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_tp
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(nd * (nd - 1) // 2 AS BIGINT) AS n_all_pairs,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_tp AS BIGINT) AS n_cand_true,
           CAST(n_tp AS DOUBLE) / n_true AS pair_completeness,
           CAST(nd * (nd - 1) // 2 - n_cand AS DOUBLE)
             / (nd * (nd - 1) // 2) AS reduction_ratio
    FROM m
    """,
)
def dedup_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-QUALITY evaluation of the LSH banding itself — the two
    numbers that justify any blocking scheme at 100 TB: pair
    completeness (what fraction of TRUE near-dup pairs land in some
    shared bucket — recall of the blocker, before any verify step) and
    reduction ratio (what fraction of the quadratic pair space the
    blocker lets you skip). Ground truth is exact shingle-Jaccard ≥0.5
    over the bounded chain corpus, enumerable through the co-shingle
    join (a pair with zero shared shingles can't reach the threshold,
    so the enumeration is complete — no N² scan). Complements
    dedup_clusters_bcubed, which scores the END clustering; this
    scores the candidate generator."""
    corpus = _chain_corpus(spark, sf_dir)
    # output is one summary row: compute it eagerly inside try/finally
    # so the persisted signature/candidate/truth frames (pair-scale at
    # sf1.0) never outlive the call in a long-lived session
    sets = D.shingle_sets_with_signatures(
        corpus, "doc_id", "text", 3, K.N_HASHES
    ).persist()
    try:
        buckets = D.lsh_bucket_rows(sets, "doc_id", K.N_BANDS, K.ROWS_PER_BAND)
        cand = D.candidate_pairs(buckets, "doc_id").persist()
        try:
            ex = sets.select("doc_id", F.explode("_shs").alias("h"))
            copairs = (
                ex.select(F.col("doc_id").alias("_id_a"), "h")
                .join(ex.select(F.col("doc_id").alias("_id_b"), "h"), "h")
                .filter(F.col("_id_a") < F.col("_id_b"))
                .select("_id_a", "_id_b")
                .distinct()
            )
            truth = (
                D.jaccard_on_pairs(copairs, sets, "doc_id")
                .filter(F.col("jaccard") >= 0.5)
                .select("_id_a", "_id_b")
                .persist()
            )
            try:
                nd = corpus.agg(F.count(F.lit(1)).alias("nd"))
                counts = (
                    nd.join(truth.agg(F.count(F.lit(1)).alias("n_true")))
                    .join(cand.agg(F.count(F.lit(1)).alias("n_cand")))
                    .join(
                        cand.join(truth, ["_id_a", "_id_b"], "left_semi").agg(
                            F.count(F.lit(1)).alias("n_tp")
                        )
                    )
                )
                all_pairs = F.expr("nd * (nd - 1) div 2")
                rows = counts.select(
                    F.col("nd").cast("long").alias("n_docs"),
                    all_pairs.cast("long").alias("n_all_pairs"),
                    F.col("n_true").cast("long").alias("n_true"),
                    F.col("n_cand").cast("long").alias("n_cand"),
                    F.col("n_tp").cast("long").alias("n_cand_true"),
                    (F.col("n_tp").cast("double") / F.col("n_true")).alias(
                        "pair_completeness"
                    ),
                    (
                        (all_pairs - F.col("n_cand")).cast("double") / all_pairs
                    ).alias("reduction_ratio"),
                ).collect()
            finally:
                truth.unpersist()
        finally:
            cand.unpersist()
    finally:
        sets.unpersist()
    return spark.createDataFrame(
        rows,
        "n_docs long, n_all_pairs long, n_true long, n_cand long, "
        "n_cand_true long, pair_completeness double, reduction_ratio double",
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (FastCDC/LBFS boundary rule)
# ---------------------------------------------------------------------------

#: the planted corpus plus a PREFIX-shifted near-duplicate of each
#: %10 == 3 document, the case that defeats fixed-size chunking but not
#: content-defined boundaries
_CDC = _PLANTED + (("doc_id % 10 = 3", 200000, "'early preamble ' || text"),)
_CDC_W, _CDC_D = 16, 32


@query(
    "doc_cdc_chunk_dedup",
    oracle=f"""
    WITH {K.variant_corpus_sql(_CDC)},
    pos AS (
      SELECT doc_id, text, length(text) AS n,
             unnest(range({_CDC_W}, length(text)+1)) AS i
      FROM corpus
    ),
    bnd AS (
      SELECT doc_id, list_sort(list(i)) AS bnds
      FROM pos
      WHERE ('0x'||substr(md5(substr(text, i-{_CDC_W - 1}, {_CDC_W})),1,8))::BIGINT
            % {_CDC_D} = 0
      GROUP BY doc_id
    ),
    spans AS (
      SELECT c.doc_id, c.text,
             list_zip(list_prepend(0, ends), ends) AS pairs
      FROM (
        SELECT c.doc_id, c.text,
               CASE WHEN len(bnds) > 0 AND bnds[-1] = length(c.text) THEN bnds
                    ELSE list_append(bnds, length(c.text)) END AS ends
        FROM corpus c
        LEFT JOIN bnd USING (doc_id)
      ) c
    ),
    chunks AS (
      SELECT doc_id,
             md5(substr(text, p[1]+1, p[2]-p[1])) AS fp,
             CAST(p[2]-p[1] AS BIGINT) AS clen
      FROM (SELECT doc_id, text, unnest(pairs) AS p FROM spans)
      WHERE p[2] IS NOT NULL
    ),
    perfp AS (
      SELECT fp, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS ndoc, MIN(clen) AS clen
      FROM chunks GROUP BY fp
    )
    SELECT
      (SELECT COUNT(*) FROM corpus) AS n_docs,
      CAST(SUM(cnt) AS BIGINT) AS total_chunks,
      CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
      CAST(SUM(CASE WHEN ndoc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_doc_chunks,
      CAST(SUM(cnt * clen) AS BIGINT) AS total_bytes,
      CAST(SUM(clen) AS BIGINT) AS unique_bytes,
      CAST(SUM(clen) AS DOUBLE) / SUM(cnt * clen) AS dedup_ratio
    FROM perfp
    """,
)
def doc_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup over a corpus with exact,
    suffix-edited, and PREFIX-shifted injected duplicates.

    The boundary rule (hash of the trailing 16-char window ≡ 0 mod 32)
    depends only on local content, so the prefix-shifted copies —
    which break every fixed-offset scheme — re-synchronize within one
    window and share almost all chunk fingerprints with their
    originals; ``cross_doc_chunks`` and ``dedup_ratio`` quantify the
    byte-level savings chunk-store dedup would realize.

    Extension beyond the reference (its dedup is whole-row id checks,
    main.py:663-700); this is the storage/corpus-layer granularity.
    """
    from ..operators.dedup import cdc_chunk_rows

    corpus = K.variant_corpus(t(spark, sf_dir, "documents"), _CDC)
    chunks = cdc_chunk_rows(corpus, "doc_id", "text", _CDC_W, _CDC_D)
    perfp = chunks.groupBy("_chunk_fp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("doc_id").alias("ndoc"),
        F.min("_chunk_len").alias("clen"),
    )
    nd = corpus.agg(F.count(F.lit(1)).alias("n_docs"))
    agg = perfp.agg(
        F.sum("cnt").cast("long").alias("total_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        F.sum((F.col("ndoc") > 1).cast("int")).cast("long").alias("cross_doc_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).cast("long").alias("total_bytes"),
        F.sum("clen").cast("long").alias("unique_bytes"),
    )
    return nd.join(agg).select(
        "n_docs",
        "total_chunks",
        "distinct_chunks",
        "cross_doc_chunks",
        "total_bytes",
        "unique_bytes",
        (F.col("unique_bytes").cast("double") / F.col("total_bytes")).alias(
            "dedup_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# The dedup CASCADE — exact pass then near-dup pass, with per-language
# funnel accounting (the end-to-end shape a corpus pipeline actually runs).
# ---------------------------------------------------------------------------


@query(
    "corpus_dedup_cascade",
    oracle=_CORPUS_SQL
    + f"""
    , fp AS (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY {K.FINGERPRINT_SQL}
               ORDER BY doc_id) AS dup_rank
      FROM corpus
    ),
    s1 AS (SELECT doc_id, text FROM fp WHERE dup_rank = 1),
    {K.near_dup_sql('s1')},
    dupes AS (
      SELECT DISTINCT id_b AS doc_id FROM scored WHERE {K.JACCARD_SQL} >= 0.5
    ),
    flags AS (
      SELECT f.doc_id,
             CASE WHEN f.dup_rank = 1 THEN 1 ELSE 0 END AS in_s1,
             CASE WHEN f.dup_rank = 1
                   AND f.doc_id NOT IN (SELECT doc_id FROM dupes)
                  THEN 1 ELSE 0 END AS in_s2
      FROM fp f
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(in_s1) AS BIGINT) AS n_after_exact,
           CAST(SUM(in_s2) AS BIGINT) AS n_after_near,
           CAST(SUM(CASE WHEN in_s2 = 1 THEN f.doc_id ELSE 0 END) AS BIGINT)
             AS survivor_id_sum
    FROM flags f
    JOIN documents d ON d.doc_id = f.doc_id % 100000
    GROUP BY d.lang
    """,
)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE DEDUP CASCADE, END TO END — the two-stage funnel every
    corpus pipeline runs, as ONE plan with per-language attrition
    accounting: the injected-duplicate corpus first passes EXACT dedup
    (md5 over normalized text, first-wins — removes the verbatim
    copies), and the survivors then pass MinHash-LSH NEAR-dup removal
    (3-shingle / 16-hash / 4-band candidates, exact-Jaccard ≥ 0.5
    verify; a document drops iff it pairs with a SMALLER-id survivor —
    the one-pass min-neighbor rule, the greedy form of cluster
    canonicalization [[dedup_clusters]] completes transitively). Per
    language: raw count, count after each stage, and the survivor
    id-sum — so the report pins WHERE documents died, the number a
    curation review actually reads.

    Scale shape: stage 1 is one shuffle on the fingerprint; stage 2 is
    the [[dedup_minhash_lsh]] plan run on stage-1 survivors (its input
    shrinks by exactly the exact-dup mass — the reason production
    cascades order cheap→expensive); the funnel rollup equi-joins the
    |corpus| flag rows to the (doc_id, lang) mapping — which also
    grows with the corpus, so the join carries no broadcast hint and
    AQE picks the strategy by measured size. No stage rescans text
    more than once."""
    c = _corpus(spark, sf_dir)
    ranked = D.exact_dedup(c, "doc_id", "text")
    s1 = ranked.filter(F.col("_dup_rank") == 1).select("doc_id", "text")
    pairs = K.near_dup_pairs(s1)
    dupes = pairs.select(F.col("_id_b").alias("doc_id")).distinct()
    flags = (
        ranked.select("doc_id", "_dup_rank")
        .join(dupes.withColumn("_isdup", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_dup_rank") == 1, 1).otherwise(0).alias("in_s1"),
            F.when(
                (F.col("_dup_rank") == 1) & F.col("_isdup").isNull(), 1
            )
            .otherwise(0)
            .alias("in_s2"),
        )
    )
    base = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "lang"
    )
    # No broadcast hint: (doc_id, lang) grows linearly with the corpus,
    # so a forced broadcast would OOM the build side at scale. The join
    # key is an equi-expression — AQE broadcasts it while it is small
    # and falls back to shuffle join once it is not.
    return (
        flags.join(base, flags["doc_id"] % 100000 == base["base_id"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.sum("in_s1").cast("long").alias("n_after_exact"),
            F.sum("in_s2").cast("long").alias("n_after_near"),
            F.sum(F.when(F.col("in_s2") == 1, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("survivor_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# ROUGE-L (LCS) pair scoring — the instruction-data near-dup signal.
# ---------------------------------------------------------------------------

_ROUGE_W = 16  # last-W-token window per side; DP is W x W


@query(
    "doc_rougel_pairs",
    oracle=f"""
    WITH RECURSIVE {K.variant_corpus_sql(_PLANTED)},
    tw AS (
      SELECT doc_id, th[greatest(len(th) - {_ROUGE_W - 1}, 1):] AS w
      FROM (SELECT doc_id, {K.TOKEN_HASHES_SQL} AS th FROM corpus)
    ),
    pairs AS (
      SELECT d.doc_id AS id_a, d.doc_id + 100000 AS id_b,
             CASE WHEN d.doc_id % 10 = 0 THEN 'exact_copy'
                  ELSE 'near_copy' END AS pair_type
      FROM documents d WHERE d.doc_id % 10 IN (0, 5)
      UNION ALL
      SELECT d.doc_id, d.doc_id + 5, 'control'
      FROM documents d
      JOIN documents e ON e.doc_id = d.doc_id + 5
      WHERE d.doc_id % 10 = 0
    ),
    pw AS (
      SELECT p.id_a, p.id_b, p.pair_type, a.w AS aw, b.w AS bw,
             len(a.w) AS wa, len(b.w) AS wb
      FROM pairs p
      JOIN tw a ON a.doc_id = p.id_a
      JOIN tw b ON b.doc_id = p.id_b
    ),
    dp AS (
      SELECT id_a, id_b, pair_type, aw, bw, wa, wb, 0 AS k,
             CAST([] AS BIGINT[]) AS acc
      FROM pw
      UNION ALL
      SELECT id_a, id_b, pair_type, aw, bw, wa, wb, k + 1,
             list_append(acc,
               CASE WHEN (k // {_ROUGE_W} + 1) <= wa
                     AND (k % {_ROUGE_W} + 1) <= wb
                     AND aw[k // {_ROUGE_W} + 1] = bw[k % {_ROUGE_W} + 1]
                    THEN (CASE WHEN k >= {_ROUGE_W} AND k % {_ROUGE_W} > 0
                               THEN acc[k - {_ROUGE_W}] ELSE 0 END) + 1
                    ELSE greatest(
                      CASE WHEN k % {_ROUGE_W} > 0 THEN acc[k] ELSE 0 END,
                      CASE WHEN k >= {_ROUGE_W}
                           THEN acc[k - {_ROUGE_W - 1}] ELSE 0 END)
               END)
      FROM dp WHERE k < {_ROUGE_W * _ROUGE_W}
    )
    SELECT id_a, id_b, pair_type,
           CAST(wa AS INTEGER) AS len_a, CAST(wb AS INTEGER) AS len_b,
           CAST(acc[{_ROUGE_W * _ROUGE_W}] AS INTEGER) AS lcs_len,
           CAST(CASE WHEN wa + wb = 0 THEN 0
                     ELSE (2 * acc[{_ROUGE_W * _ROUGE_W}] * 1000000)
                          // (wa + wb) END
                AS BIGINT) AS rouge_l_f_ppm
    FROM dp WHERE k = {_ROUGE_W * _ROUGE_W}
    """,
)
def doc_rougel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L PAIR SCORING — the LCS-based overlap signal
    instruction-tuning pipelines (self-instruct and descendants) use to
    drop a candidate whose output is too similar to an existing seed:
    for each candidate pair, the longest common subsequence over the
    LAST 16 token hashes (suffix window — the injected near-copies
    append a token, so a prefix window would be blind to them) yields
    ROUGE-L F1 in exact integer ppm. Pairs are the injected
    exact-copy/near-copy replicas plus unrelated controls, so all three
    bands of the score distribution are pinned (1.0 / ≈0.95 / low).
    Subsequence, not substring: ROUGE-L tolerates interleaved edits
    that [[doc_dup_substring_coverage]]'s exact 40-gram spans do not.

    The Spark side runs the 16×16 DP inside Arrow-batched mapInPandas
    (per-pair work is constant); the oracle replays the DP
    cell-by-cell with a 256-step recursive CTE — recursion vs
    vectorized DP must agree exactly, the [[nations_dtw_profiles]]
    discipline, with LCS borders at 0 instead of DTW's INF and a
    match/max recurrence instead of cost/min.

    Scale shape: candidate pairs at 100 TB come from the LSH band join
    ([[dedup_minhash_lsh]]); the scorer is an embarrassingly parallel
    constant-size DP per candidate — no shuffle beyond the pair
    build."""
    from ..functions import text as X

    W = _ROUGE_W
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    c = _corpus(spark, sf_dir)
    # `th` feeds both pair-attach join sides, and the tokenize+hash
    # pipeline is pure scan projection (nothing for ReuseExchange to
    # share): the checkpoint runs the corpus pass once, not twice
    th = c.select(
        "doc_id", X.token_hash_array(F.col("text")).alias("th")
    ).select(
        "doc_id",
        F.slice(
            "th", F.greatest(F.size("th") - (W - 1), F.lit(1)), W
        ).alias("w"),
    ).localCheckpoint()
    base = d.select("doc_id")
    rep = base.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
        F.lit("exact_copy").alias("pair_type"),
    )
    near = base.filter(F.col("doc_id") % 10 == 5).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
        F.lit("near_copy").alias("pair_type"),
    )
    ctrl = (
        base.filter(F.col("doc_id") % 10 == 0)
        .alias("l")
        .join(
            base.select((F.col("doc_id") - 5).alias("doc_id")).alias("r"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 5).alias("id_b"),
            F.lit("control").alias("pair_type"),
        )
    )
    pairs = rep.unionByName(near).unionByName(ctrl)
    pw = (
        pairs.join(
            th.select(F.col("doc_id").alias("id_a"), F.col("w").alias("aw")),
            "id_a",
        )
        .join(
            th.select(F.col("doc_id").alias("id_b"), F.col("w").alias("bw")),
            "id_b",
        )
    )

    from collections.abc import Iterator

    import pandas as pd

    def lcs_op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def lcs(a, b) -> int:
            wa, wb = len(a), len(b)
            prev = np.zeros(wb + 1, dtype=np.int64)
            for i in range(1, wa + 1):
                cur = np.zeros(wb + 1, dtype=np.int64)
                ai = a[i - 1]
                for j in range(1, wb + 1):
                    if ai == b[j - 1]:
                        cur[j] = prev[j - 1] + 1
                    else:
                        cur[j] = max(prev[j], cur[j - 1])
                prev = cur
            return int(prev[wb])

        for pdf in batches:
            la = [len(a) for a in pdf["aw"]]
            lb = [len(b) for b in pdf["bw"]]
            ll = [
                lcs(list(a), list(b)) for a, b in zip(pdf["aw"], pdf["bw"])
            ]
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].values,
                    "id_b": pdf["id_b"].values,
                    "pair_type": pdf["pair_type"].values,
                    "len_a": la,
                    "len_b": lb,
                    "lcs_len": ll,
                    "rouge_l_f_ppm": [
                        0 if a_ + b_ == 0 else (2 * l_ * 1000000) // (a_ + b_)
                        for l_, a_, b_ in zip(ll, la, lb)
                    ],
                }
            )

    n_parts = spark.sparkContext.defaultParallelism
    return pw.repartition(n_parts, F.col("id_a")).mapInPandas(
        lcs_op,
        schema=(
            "id_a long, id_b long, pair_type string, len_a int, len_b int, "
            "lcs_len int, rouge_l_f_ppm long"
        ),
    )


# ---------------------------------------------------------------------------
# Similarity-locality ordering — "cluster then pack": sort the corpus by
# SimHash so near-duplicates become storage neighbors.
# ---------------------------------------------------------------------------


@query(
    "doc_simhash_sort_locality",
    oracle=f"""
    WITH {_simhash_sql('documents')},
    shingled AS ({K.shingles_sql('documents', 3)}),
    orderings AS (
      SELECT 'doc_id' AS ordering, doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      FROM sigs
      UNION ALL
      SELECT 'simhash', doc_id,
             ROW_NUMBER() OVER (ORDER BY simhash, doc_id) AS rn
      FROM sigs
    ),
    pairs AS (
      SELECT o.ordering, o.doc_id AS id_a, o2.doc_id AS id_b
      FROM orderings o
      JOIN orderings o2 ON o2.ordering = o.ordering AND o2.rn = o.rn + 1
    ),
    scored AS (
      SELECT ordering, (n_inter * 1000000) // n_union AS j_ppm
      FROM ({K.verified_sql('pairs', 'shingled')})
    )
    SELECT ordering,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_ppm) AS BIGINT) AS sum_jaccard_ppm,
           CAST(SUM(CASE WHEN j_ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_adjacent_near_dups
    FROM scored GROUP BY ordering
    """,
)
def doc_simhash_sort_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMILARITY-LOCALITY ORDERING — the "cluster then pack" layout
    trick: sorting a corpus by SimHash puts near-duplicate documents
    next to each other, which is what makes downstream block
    compression, delta encoding, and windowed dedup effective (the
    text-side analog of [[orders_zorder_layout]]'s spatial clustering).
    The query measures it directly: adjacent-pair exact Jaccard (3-token
    shingles, integer ppm) under the natural doc_id order vs the
    simhash order, plus how many adjacent pairs are genuine near-dups
    (Jaccard ≥ 0.5) under each. The simhash ordering must concentrate
    the corpus's near-dup pairs into adjacency — the measurable win a
    layout reviewer asks for.

    Determinism: fingerprints are the bit-exact [[dedup_simhash]]
    signatures; per-pair Jaccard is one floored integer division; both
    orderings carry a total tie-break.

    Scale shape: the signature is one groupBy; each ordering's
    neighbor pairing is a lead window over a global sort (at 100 TB:
    range-partition by simhash prefix — [[orders_range_partition_hist]]
    — and pair within partitions, one boundary row each); the Jaccard
    audit attaches each side's per-doc shingle-set ARRAY (one row per
    doc) to the |docs| adjacent pairs and intersects in-row.

    The shingle sets materialize ONCE as per-doc arrays
    (``shingle_sets`` — set size = ``size(_shs)``, no separate
    aggregate), neighbor pairing is a ``lead`` window on the existing
    sort (no self-join), and ``ni`` is an in-row ``array_intersect``
    size — the [[dedup_prefix_filter_join]] verify discipline. Joining
    the EXPLODED shingle table three ways instead replicates the whole
    tokenize+hash+explode subtree into every branch (106 Exchange
    nodes)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Both per-doc tables feed TWO plan branches each (sigs: the two
    # orderings; sets: both sides of the pair audit), and both sit
    # after their last exchange — localCheckpoint materializes each
    # corpus pass once (the [[dedup_simhash]] lesson).
    sigs = D.simhash_signature(docs, "doc_id", "text", bits=62).localCheckpoint()
    sets = D.shingle_sets(docs, "doc_id", "text", k=3).localCheckpoint()
    by_id = sigs.select(
        F.lit("doc_id").alias("ordering"),
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
    )
    by_sig = sigs.select(
        F.lit("simhash").alias("ordering"),
        "doc_id",
        F.row_number().over(Window.orderBy("simhash", "doc_id")).alias("rn"),
    )
    orderings = by_id.unionByName(by_sig)
    w_next = Window.partitionBy("ordering").orderBy("rn")
    pairs = (
        orderings.withColumn("id_b", F.lead("doc_id").over(w_next))
        .filter(F.col("id_b").isNotNull())
        .select("ordering", F.col("doc_id").alias("id_a"), "id_b")
    )
    sa = sets.select(
        F.col("doc_id").alias("id_a"), F.col("_shs").alias("_sa")
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"), F.col("_shs").alias("_sb")
    )
    ni = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "ordering",
            ni.alias("ni"),
            (F.size("_sa") + F.size("_sb")).cast("long").alias("zab"),
        )
        .select(
            "ordering",
            F.expr("(ni * 1000000) div (zab - ni)").alias("j_ppm"),
        )
    )
    return scored.groupBy("ordering").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("j_ppm").cast("long").alias("sum_jaccard_ppm"),
        F.sum(F.when(F.col("j_ppm") >= 500000, 1).otherwise(0))
        .cast("long")
        .alias("n_adjacent_near_dups"),
    )
