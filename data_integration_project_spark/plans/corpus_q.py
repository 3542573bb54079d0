"""Corpus-profiling and corpus-cleaning queries: vocabulary heavy
hitters and the composed C4-style cleaning chain (quality filter →
exact dedup → per-language survivor stats).

These are the two shapes a pretraining-data pipeline runs constantly:
"what dominates the corpus" (frequent-token profile) and "what survives
cleaning" (filter + dedup funnel). Both stay entirely in JVM expression
built-ins — explode / groupBy / window — so the 100 TB pass is
map-side-combined codegen with exactly one shuffle per aggregation
level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import dedup as D
from ..session import iterative_loop
from . import text_kit as K
from .catalog import SQL_MD5_INT, query, t


@query(
    "doc_top_tokens",
    oracle=f"""
    SELECT token, n_occurrences, n_docs FROM (
      SELECT t AS token,
             COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest({K.TOKENS_SQL}) AS t FROM documents)
      GROUP BY t
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
)
def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: explode the token stream, count
    occurrences and document frequency per token, keep the global
    top 20 (total order: count desc, token asc — deterministic at the
    cut line).

    Scale shape: the explode never materializes the corpus-wide token
    list anywhere — partial counts combine map-side, the shuffle
    carries |vocab| rows, and the final top-k is TakeOrdered (no global
    sort). This is the exact two-level aggregation a 100 TB frequency
    profile needs; for truly unbounded vocab, cap with a per-partition
    pre-filter or a count-min pass first."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


@query(
    "corpus_clean_summary",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             {K.FINGERPRINT_SQL} AS fp,
             len({K.TOKENS_SQL}) AS n_tokens,
             CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / nullif(length(lower(text)), 0) AS pr
      FROM documents
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
      WHERE n_tokens >= 5 AND pr < 0.3
    )
    SELECT lang,
           COUNT(*) AS n_quality,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_rows,
           CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS survivor_chars
    FROM kept
    GROUP BY lang
    """,
)
def corpus_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning funnel (the C4/RefinedWeb shape):
    quality-gate each document (min token count, punctuation-ratio
    cap), exact-dedup the survivors on the normalized-text fingerprint
    with deterministic first-wins (lowest doc_id), and report the
    funnel per language — quality passes, unique survivors, duplicate
    rows dropped, and surviving character mass.

    Scale shape: one scan computes score columns in codegen; the
    quality filter prunes before the dedup shuffle (the only wide
    exchange, keyed on fingerprint); the final per-language rollup is
    map-side combined. No per-row Python, no driver state."""
    d = t(spark, sf_dir, "documents")
    n_tok = X.token_count(F.col("text"))
    pr = X.punct_ratio(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        X.fingerprint_md5(F.col("text")).alias("fp"),
        n_tok.alias("n_tokens"),
        pr.alias("pr"),
    )
    kept = scored.filter((F.col("n_tokens") >= 5) & (F.col("pr") < 0.3))
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    kept = kept.withColumn("rn", rn)
    first = F.when(F.col("rn") == 1, 1).otherwise(0)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_quality"),
        F.sum(first).cast("long").alias("n_unique"),
        (F.count(F.lit(1)) - F.sum(first)).cast("long").alias("n_dup_rows"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("survivor_chars"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction — the compliance pass every corpus gets)
# ---------------------------------------------------------------------------

#: dialect-portable patterns (no \d, no lookaround): Java regex and RE2
#: agree on these exactly.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{2,4}"


@query(
    "doc_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or 555-12' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
             '-3456 thanks' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(length(text) AS BIGINT) AS len_raw,
           CAST(length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
             AS len_scrubbed,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails and phone numbers
    (deterministically injected into the synthetic corpus so the
    counts are non-trivial), reporting per-doc hit counts and the md5
    of the scrubbed text — byte-level proof both engines redacted
    identically. Patterns avoid every dialect-divergent construct
    (no \\d, no lookaround) so Java regex and RE2 agree.

    Scale shape: pure per-row codegen expressions, zero shuffles —
    the cheapest possible full-corpus pass."""
    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 555-12"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-3456 thanks"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.length("text").cast("long").alias("len_raw"),
        F.length(scrubbed).cast("long").alias("len_scrubbed"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Sequence chunking (context-window packing for training)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48  # 16-token overlap between consecutive chunks


@query(
    "doc_chunk_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {K.TOKENS_SQL} AS tk, len({K.TOKENS_SQL}) AS n
      FROM documents
    ),
    chunked AS (
      SELECT doc_id, n,
             unnest(range(0, CASE WHEN n <= {_CHUNK} THEN 1
                    ELSE CAST(ceil((n - {_CHUNK}) / {_STRIDE}.0) AS INT) + 1 END))
               AS chunk_idx
      FROM toks
    )
    SELECT c.doc_id, c.chunk_idx,
           CAST(least(c.n - c.chunk_idx * {_STRIDE}, {_CHUNK}) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(
             t.tk[c.chunk_idx * {_STRIDE} + 1 :
                  least(c.chunk_idx * {_STRIDE} + {_CHUNK}, c.n)], ' '))
             AS chunk_md5
    FROM chunked c JOIN toks t USING (doc_id)
    """,
)
def doc_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: split each document's token stream into
    64-token chunks with stride 48 (16-token overlap) — the sequence-
    chunking step that turns documents into fixed-size training
    samples. Emits (doc, chunk_idx, token count, chunk md5); the md5
    over the re-joined token window proves both engines cut identical
    chunk boundaries.

    Scale shape: chunk indices come from a per-row ``sequence`` +
    ``posexplode`` over the already-tokenized array — no shuffle at
    all; output rows ≈ corpus_tokens / stride, each independent (the
    ideal downstream-training partition layout)."""
    d = t(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK) / float(_STRIDE)).cast("int") + 1
    )
    base = d.select("doc_id", toks.alias("tk"), n.alias("n"), n_chunks.alias("nc"))
    exploded = base.select(
        "doc_id",
        "n",
        "tk",
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * _STRIDE + 1
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.least(F.col("n") - F.col("chunk_idx") * _STRIDE, F.lit(_CHUNK))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.slice(F.col("tk"), start, _CHUNK))).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Deterministic shard assignment (the global training shuffle)
# ---------------------------------------------------------------------------


@query(
    "corpus_shard_assignment",
    oracle="""
    WITH hashed AS (
      SELECT doc_id,
             (1103515245 * (doc_id % 2147483647) + 12352) % 2147483647 AS h
      FROM documents
    ),
    placed AS (
      SELECT doc_id, h % 8 AS shard,
             row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
      FROM hashed
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(pos AS BIGINT) * doc_id) AS BIGINT) AS placement_checksum
    FROM placed GROUP BY shard
    """,
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global training shuffle, deterministically: affine-hash each
    doc id, shard = hash mod 8, position within shard = rank by
    (hash, id). The per-shard checksum Σ pos·doc_id pins the exact
    permutation — not just membership — so the shuffle is reproducible
    across engines, runs, and partitionings (what ``ORDER BY rand()``
    can never give you).

    Scale shape: one hash shuffle on the shard key, per-shard sort for
    rank (each shard = corpus/8, spillable), map-side-combined rollup.
    Writing the actual shards is the same plan with
    ``partitionBy(shard)`` instead of the final aggregate."""
    from ..operators.sketch import kmv_hash

    d = t(spark, sf_dir, "documents")
    hashed = d.select("doc_id", kmv_hash(F.col("doc_id")).alias("h"))
    w = Window.partitionBy(F.col("h") % 8).orderBy("h", "doc_id")
    placed = hashed.select(
        "doc_id",
        (F.col("h") % 8).alias("shard"),
        F.row_number().over(w).alias("pos"),
    )
    return placed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pos").cast("long") * F.col("doc_id"))
        .cast("long")
        .alias("placement_checksum"),
    )


# ---------------------------------------------------------------------------
# Vocabulary encoding (apply a learned top-k vocab; OOV accounting)
# ---------------------------------------------------------------------------

_VOCAB_K = 20


@query(
    "doc_vocab_encode",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) + 1),
                      i -> struct_pack(pos := i, tok := tk[i]))) AS u
        FROM (SELECT doc_id, {K.TOKENS_SQL} AS tk FROM documents)
      )
    ),
    vocab AS (
      SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS token_id
      FROM (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
      ORDER BY n DESC, tok LIMIT {_VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_ratio,
           CAST(SUM(CAST(t.pos AS BIGINT) * COALESCE(v.token_id, 0)) AS BIGINT)
             AS enc_checksum
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def doc_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application — the tokenize-with-a-learned-vocab shape:
    build a top-k vocab (count desc, token asc — total order, so the
    cut line is deterministic), assign dense ids by that order, encode
    every token occurrence via broadcast lookup, and report per-doc
    token/OOV counts plus a position-weighted checksum
    Σ pos·token_id that pins the exact encoded SEQUENCE, not just the
    bag of ids.

    Scale shape: vocab building is the heavy-hitters aggregation
    (map-side combined, TakeOrdered k); the k-row vocab broadcasts, so
    encoding is a per-row hash lookup with no wide shuffle; the final
    per-doc rollup rides the existing doc partitioning."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(_VOCAB_K)
        .withColumn(
            "token_id",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))),
        )
        .drop("n")
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("token_id").isNull(), 1).otherwise(0)
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        (F.sum(oov).cast("double") / F.count(F.lit(1))).alias("oov_ratio"),
        F.sum(F.col("pos").cast("long") * F.coalesce(F.col("token_id"), F.lit(0)))
        .cast("long")
        .alias("enc_checksum"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4): the §2.11 table-function extension point
# ---------------------------------------------------------------------------

try:  # pyspark >= 3.5
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="doc_id: bigint, token: string, start_pos: int, run_len: int")
    class TokenRunsUDTF:
        """Run-length encoding of consecutive repeated tokens — a
        genuinely table-valued transform (0..n output rows per input
        row) with sequential state, the shape UDTFs exist for."""

        def eval(self, doc_id, text):  # noqa: D102
            toks = text.lower().strip().split()
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield doc_id, toks[i], i + 1, j - i
                i = j

except ImportError:  # pragma: no cover - pyspark too old
    TokenRunsUDTF = None


@query(
    "doc_token_runs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) + 1),
                      i -> struct_pack(pos := i, tok := tk[i]))) AS u
        FROM (SELECT doc_id, {K.TOKENS_SQL} AS tk FROM documents)
      )
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN lag(tok) OVER w IS NULL OR lag(tok) OVER w <> tok
                  THEN 1 ELSE 0 END AS brk
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    runs AS (
      SELECT doc_id, pos, tok,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    )
    SELECT doc_id, tok AS token,
           CAST(MIN(pos) AS INT) AS start_pos,
           CAST(COUNT(*) AS INT) AS run_len
    FROM runs GROUP BY doc_id, tok, run_id
    HAVING COUNT(*) >= 2
    """,
)
def doc_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4's table-function extension point, §2.11):
    run-length encode consecutive repeated tokens per document — a
    0..n-rows-per-input transform with sequential state, lateral-joined
    in SQL. The oracle proves the imperative UDTF equals the relational
    gaps-and-islands form (lag-break + running sum + group).

    This is deliberately the ONLY Python-row-path query in the catalog:
    the UDTF is the extensibility demo, and the oracle's own
    gaps-and-islands shape is what the 100 TB hot path would use
    (window + groupBy — codegen, one shuffle)."""
    if TokenRunsUDTF is None:
        raise NotImplementedError("pyspark UDTF support missing")
    spark.udtf.register("token_runs", TokenRunsUDTF)
    t(spark, sf_dir, "documents").createOrReplaceTempView("corpus_docs_udtf")
    return spark.sql(
        """
        SELECT f.doc_id, f.token, f.start_pos, f.run_len
        FROM corpus_docs_udtf d, LATERAL token_runs(d.doc_id, d.text) f
        """
    )


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable counters for unbounded vocabularies)
# ---------------------------------------------------------------------------

_CMS_W = 16  # deliberately tight: 31 distinct tokens into 16 buckets
#             forces collisions, so min-over-depth visibly matters

def _cms_params_sql() -> str:
    from ..operators.sketch import CMS_PARAMS

    return ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(CMS_PARAMS))


@query(
    "doc_cms_token_counts",
    oracle=f"""
    WITH counts AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest({K.TOKENS_SQL}) AS tok FROM documents)
      GROUP BY tok
    ),
    hashed AS (SELECT tok, n, {K.char_fold_sql('tok')} AS h FROM counts),
    params(depth, a, b) AS (VALUES {_cms_params_sql()}),
    cells AS (
      SELECT p.depth,
             ((p.a * (h.h % 2147483647) + p.b) % 2147483647) % {_CMS_W} AS bucket,
             h.n
      FROM hashed h CROSS JOIN params p
    ),
    counters AS (
      SELECT depth, bucket, SUM(n) AS counter FROM cells GROUP BY 1, 2
    ),
    qcells AS (
      SELECT h.tok, h.n, p.depth,
             ((p.a * (h.h % 2147483647) + p.b) % 2147483647) % {_CMS_W} AS bucket
      FROM hashed h CROSS JOIN params p
    )
    SELECT q.tok AS token,
           CAST(q.n AS BIGINT) AS exact_count,
           CAST(MIN(c.counter) AS BIGINT) AS cms_estimate
    FROM qcells q JOIN counters c USING (depth, bucket)
    GROUP BY q.tok, q.n
    """,
)
def doc_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over token frequencies
    (operators/sketch.cms_counters): 4 pairwise-independent affine
    hashes scatter each token's weight into a 4×16 counter grid;
    a point query takes the MIN over its 4 cells. Counters are
    additive — mergeable across partitions, batches, or days — which
    is what makes frequency tracking possible when |vocab| itself
    can't be shuffled (the exact two-level agg in doc_top_tokens
    stops scaling exactly there). The width is deliberately tight so
    collisions occur and every estimate is >= exact (CMS one-sided
    error), both visible in the output.

    Fully deterministic integer arithmetic on the portable char-fold
    hash — the oracle rebuilds the identical grid."""
    from ..functions.text import char_fold_hash
    from ..operators.sketch import cms_counters, cms_estimate

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # `hashed` (the vocab-scale token dim) feeds the counter grid and
    # the point-query probe side: the lazy checkpoint makes it one
    # corpus pass instead of one per reference (8 scans)
    hashed = counts.withColumn(
        "h", char_fold_hash(F.col("tok"))
    ).localCheckpoint(eager=False)
    counters = cms_counters(hashed, "h", "n", width=_CMS_W)
    est = cms_estimate(
        hashed.select(
            F.col("tok").alias("token"),
            F.col("n").cast("long").alias("exact_count"),
            "h",
        ),
        counters,
        "h",
        width=_CMS_W,
    )
    return est.select("token", "exact_count", F.col("cms_estimate").cast("long").alias("cms_estimate"))


# ---------------------------------------------------------------------------
# Misra-Gries / space-saving heavy hitters (bounded-state frequent-item LIST)
# ---------------------------------------------------------------------------

_MG_CAPACITY = 64


@query(
    "doc_heavy_hitters_mg",
    oracle=f"""
    WITH tok AS (SELECT unnest({K.TOKENS_SQL}) AS t FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT t AS token, COUNT(*) AS n_occurrences
    FROM tok, tot
    GROUP BY t, tot.n
    HAVING COUNT(*) * {_MG_CAPACITY + 1} > tot.n
    """,
)
def doc_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token LIST with bounded state (operators/sketch.
    heavy_hitters): per-partition Misra-Gries summaries (<= 64 live
    counters each, whatever |vocab| is) merge into a tiny candidate
    list that PROVABLY contains every token with count > N/65, then an
    exact-count pass restricted to candidates (broadcast semi-join)
    verifies and filters. Raw MG counters are partition-order-dependent;
    the superset guarantee + exact verify make the OUTPUT deterministic
    — which is why the oracle is the plain relational
    GROUP BY ... HAVING count*65 > N.

    This is the enumerate-the-frequent-items complement to the
    count-min point-query grid (doc_cms_token_counts), and the shape
    that replaces doc_top_tokens' exact two-level agg when the
    vocabulary itself is too large to shuffle (URLs, n-grams, user
    agents at 100 TB)."""
    from ..operators.sketch import heavy_hitters

    toks = t(spark, sf_dir, "documents").select(
        F.explode(X.tokens(F.col("text"))).alias("token")
    )
    return heavy_hitters(toks, "token", _MG_CAPACITY)


# ---------------------------------------------------------------------------
# Intra-document paragraph dedup (repeated-block removal)
# ---------------------------------------------------------------------------


@query(
    "doc_paragraph_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id,
             concat_ws(chr(10), text, upper(text), text, upper(text)) AS text
      FROM documents
    ),
    paras AS (
      SELECT doc_id, u.pos AS pos, u.para AS para FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ps) + 1),
                      i -> struct_pack(pos := i, para := ps[i]))) AS u
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus)
      )
    ),
    firsts AS (
      SELECT doc_id, para, MIN(pos) AS first_pos, COUNT(*) AS n_occ
      FROM paras GROUP BY doc_id, para
    )
    SELECT doc_id,
           CAST(SUM(n_occ) AS INT) AS n_paras,
           CAST(COUNT(*) AS INT) AS n_kept,
           string_agg(para, chr(10) ORDER BY first_pos) AS clean_text
    FROM firsts GROUP BY doc_id
    """,
)
def doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-paragraph removal
    (operators/dedup.intra_doc_dedup): the line/block-level cleanup a
    pretraining pipeline runs BEFORE cross-document dedup — repeated
    boilerplate inside one page must not survive into training text.
    The corpus has no natural paragraph breaks, so the fixture
    manufactures them identically on both engines: each doc becomes
    A\\nB\\nA\\nB (B = uppercased A); the operator must return A\\nB with
    first-occurrence order preserved and report 4 paragraphs seen /
    2 kept.

    Scale shape: split → posexplode → (doc,para) then (doc) aggregates —
    two co-partitioned shuffles on the doc key, order restored by
    array_sort on (first_pos, para) structs rather than any global
    sort. Linear at 100 TB."""
    from ..operators.dedup import intra_doc_dedup

    corpus = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.upper(F.col("text")),
            F.col("text"),
            F.upper(F.col("text")),
        ).alias("text"),
    )
    return intra_doc_dedup(corpus, "doc_id", "text", sep="\n")


# ---------------------------------------------------------------------------
# BPE merge-step pair counts (tokenizer training primitive)
# ---------------------------------------------------------------------------


@query(
    "doc_bpe_pair_counts",
    oracle=f"""
    WITH pairs AS (
      SELECT u.a AS left_tok, u.b AS right_tok FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> struct_pack(a := tk[i], b := tk[i + 1]))) AS u
        FROM (SELECT {K.TOKENS_SQL} AS tk FROM documents)
        WHERE len(tk) >= 2
      )
    )
    SELECT left_tok, right_tok, n_pairs FROM (
      SELECT left_tok, right_tok, COUNT(*) AS n_pairs
      FROM pairs GROUP BY left_tok, right_tok
    )
    ORDER BY n_pairs DESC, left_tok, right_tok
    LIMIT 20
    """,
)
def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: count ADJACENT token pairs across
    the corpus and rank the merge candidates — the inner loop of
    byte-pair-encoding tokenizer training, run corpus-wide. The
    highest-count pair is the next merge rule; re-running after each
    merge trains the full vocab.

    Scale shape: pairs are built inside one codegen projection
    (``transform(sequence(...))`` over the token array — no self-join
    of an exploded token table on position, which would shuffle the
    whole corpus twice), then one map-side-combined count whose shuffle
    carries |pair-vocab| rows, then TakeOrdered(20). Total order at the
    cut (count desc, pair asc) keeps the result deterministic."""
    d = t(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    pairs = (
        d.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.struct(
                        F.col("tk")[i].alias("left_tok"),
                        F.col("tk")[i + 1].alias("right_tok"),
                    ),
                )
            ).alias("p")
        )
        .select("p.left_tok", "p.right_tok")
    )
    return (
        pairs.groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("left_tok"), F.asc("right_tok"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Inverted index (search-engine posting lists)
# ---------------------------------------------------------------------------


@query(
    "doc_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({K.TOKENS_SQL})) AS token
      FROM documents
    ),
    postings AS (
      SELECT token,
             COUNT(*) AS doc_freq,
             list_sort(list(doc_id)) AS posting_list
      FROM tok GROUP BY token
    )
    SELECT token, doc_freq, array_to_string(posting_list, ',') AS posting_list
    FROM postings
    ORDER BY doc_freq DESC, token
    LIMIT 15
    """,
)
def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → sorted posting list of containing
    documents plus document frequency — the search-engine/retrieval
    structure a corpus engine materializes once and serves forever.
    Within-doc duplicate tokens collapse BEFORE the explode
    (array_distinct on the token array — shuffles one row per
    (doc, distinct token), not per occurrence), postings assemble in
    the same groupBy that counts df, and array_sort makes the list
    deterministic despite collect_list's arrival order. Top-15 by df
    with token tiebreak keeps the output bounded.

    The posting list crosses the OUTPUT boundary as a canonical
    comma-joined string, not array<bigint>: this was the catalog's
    only array-output query, and the r6-HUGEINT/r8-decimal incidents
    proved the driver's value hash is type-canonicalization-sensitive
    across the Spark/DuckDB fetch paths for any type kind no
    ever-driver-green query has exercised (round-9 proactive audit —
    the serialization happens after the LIMIT, on 15 rows).

    At 100 TB the shape is identical — posting lists for frequent
    tokens get long, so production shards them (token, bucket) with a
    fixed list-length cap per row; the build is still one explode +
    one groupBy."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(X.tokens(F.col("text")))).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_sort(F.collect_list("doc_id")).alias("posting_list"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(15)
        .select(
            "token",
            "doc_freq",
            F.array_join(F.col("posting_list").cast("array<string>"), ",").alias(
                "posting_list"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document (integer-scaled idf: no libm in the score)
# ---------------------------------------------------------------------------


@query(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({K.TOKENS_SQL}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.token,
             t.tf * ((1000000 * n.n_docs) // d.df) AS tfidf_scaled,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY t.tf * ((1000000 * n.n_docs) // d.df)
                                         DESC, t.token) AS rk
      FROM tf t JOIN df d USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf_scaled, rk
    FROM scored WHERE rk <= 3 AND doc_id % 50 = 0
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term ranking, made bit-portable: the idf factor is the
    INTEGER-SCALED rational ``(1e6·N) div df`` instead of ln(N/df) —
    same ranking monotonicity (div is order-preserving in df), zero
    dependence on libm's last-ulp ln behavior, so two engines agree
    exactly where a float idf could flip ties. Top-3 terms per doc
    (score desc, token tiebreak), sampled to every 50th doc to bound
    output.

    Shape: tf is one (doc,token) groupBy; df is a (token) groupBy off
    the same exploded stream; df joins back BROADCAST (|vocab| rows);
    the per-doc top-3 is a rank window that WindowGroupLimit prunes
    before the sort — no global materialization of all (doc, token)
    scores."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df falls out of tf for free: tf rows are unique per (doc, token),
    # so COUNT(*) per token == COUNT(DISTINCT doc) — one explode + one
    # extra narrow aggregate instead of a second pass over the corpus
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.expr("(1000000 * n_docs) div df")).alias(
                "tfidf_scaled"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_scaled"), F.asc("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") % 50 == 0))
        .select("doc_id", "token", "tfidf_scaled", "rk")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, arXiv:2112.11446
# table A1): the standard pretraining-corpus quality gate.
# ---------------------------------------------------------------------------


@query(
    "doc_gopher_quality",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {K.TOKENS_SQL} AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, 1 AS gsize, unnest(tk) AS gram FROM tk
      UNION ALL
      SELECT doc_id, 2 AS gsize,
             unnest(list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i + 1])) AS gram
      FROM tk WHERE len(tk) >= 2
      UNION ALL
      SELECT doc_id, 5 AS gsize,
             unnest(list_transform(range(1, len(tk) - 3),
                    i -> array_to_string(tk[i : i + 4], ' '))) AS gram
      FROM tk WHERE len(tk) >= 5
    ),
    counts AS (
      SELECT doc_id, gsize, gram, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, gsize, gram
    ),
    agg AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN gsize = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN gsize = 1 THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
          AS tok_chars,
        CAST(MAX(CASE WHEN gsize = 1 THEN cnt END) AS BIGINT) AS top_tok_cnt,
        CAST(COALESCE(MAX(CASE WHEN gsize = 2 THEN cnt * length(gram) END), 0)
          AS BIGINT) AS top2_chars,
        CAST(COALESCE(SUM(CASE WHEN gsize = 5 AND cnt >= 2
                           THEN cnt * length(gram) END), 0) AS BIGINT) AS dup5_chars
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           n_tokens,
           CAST(tok_chars AS DOUBLE) / n_tokens AS mean_token_len,
           CAST(top_tok_cnt AS DOUBLE) / n_tokens AS top_token_frac,
           CAST(top2_chars AS DOUBLE) / (tok_chars + n_tokens - 1) AS top_2gram_frac,
           CAST(dup5_chars AS DOUBLE) / (tok_chars + n_tokens - 1) AS dup_5gram_frac,
           CAST(CASE WHEN n_tokens >= 20
                      AND CAST(tok_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 10
                      AND CAST(top_tok_cnt AS DOUBLE) / n_tokens <= 0.20
                      AND CAST(top2_chars AS DOUBLE) / (tok_chars + n_tokens - 1) <= 0.20
                      AND CAST(dup5_chars AS DOUBLE) / (tok_chars + n_tokens - 1) <= 0.15
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM agg
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate, adapted to a corpus without
    line structure: per document (a) mean token length, (b) fraction of
    tokens that are the single most frequent token, (c) character
    coverage of the highest-covering word 2-gram (max of count x gram
    length — deterministic under count ties where an argmax is not),
    and (d) fraction of characters inside word 5-grams that occur at
    least twice. A document keeps only if all four repetition signals
    and a minimum length pass their (documented, Gopher-inspired)
    thresholds.

    Scale shape: the three gram sizes are built in one codegen
    projection each (``transform(sequence(...))`` over the token array,
    no positional self-join) and unioned into a SINGLE
    (doc, gsize, gram) count — map-side combine, one shuffle carrying
    per-doc gram vocabularies — then one doc-keyed aggregate folds all
    five signals with conditional aggregates. Every fraction is one
    IEEE division of two exact integers, so the oracle is bit-exact.
    Ref parity: quality gating mirrors the reference's rule-engine
    validate step (coffee_etl_clean/etl/validate.py) applied to corpus
    hygiene rather than entity fields."""
    d = t(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    base = d.select("doc_id", tk.alias("tk"))
    g1 = base.select("doc_id", F.lit(1).alias("gsize"), F.explode("tk").alias("gram"))
    g2 = (
        base.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.lit(2).alias("gsize"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.concat_ws(" ", F.col("tk")[i], F.col("tk")[i + 1]),
                )
            ).alias("gram"),
        )
    )
    g5 = (
        base.filter(F.size("tk") >= 5)
        .select(
            "doc_id",
            F.lit(5).alias("gsize"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 5),
                    lambda i: F.array_join(
                        F.slice(F.col("tk"), i + 1, F.lit(5)), " "
                    ),
                )
            ).alias("gram"),
        )
    )
    counts = (
        g1.unionByName(g2)
        .unionByName(g5)
        .groupBy("doc_id", "gsize", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    is1 = F.col("gsize") == 1
    chars = F.col("cnt") * F.length("gram")
    agg = counts.groupBy("doc_id").agg(
        F.sum(F.when(is1, F.col("cnt")).otherwise(0)).alias("n_tokens"),
        F.sum(F.when(is1, chars).otherwise(0)).alias("tok_chars"),
        F.max(F.when(is1, F.col("cnt"))).alias("top_tok_cnt"),
        F.coalesce(
            F.max(F.when(F.col("gsize") == 2, chars)), F.lit(0)
        ).alias("top2_chars"),
        F.coalesce(
            F.sum(F.when((F.col("gsize") == 5) & (F.col("cnt") >= 2), chars)),
            F.lit(0),
        ).alias("dup5_chars"),
    )
    norm_len = F.col("tok_chars") + F.col("n_tokens") - 1
    mean_len = F.col("tok_chars").cast("double") / F.col("n_tokens")
    top_tok = F.col("top_tok_cnt").cast("double") / F.col("n_tokens")
    top2 = F.col("top2_chars").cast("double") / norm_len
    dup5 = F.col("dup5_chars").cast("double") / norm_len
    return agg.select(
        "doc_id",
        "n_tokens",
        mean_len.alias("mean_token_len"),
        top_tok.alias("top_token_frac"),
        top2.alias("top_2gram_frac"),
        dup5.alias("dup_5gram_frac"),
        F.when(
            (F.col("n_tokens") >= 20)
            & mean_len.between(3, 10)
            & (top_tok <= 0.20)
            & (top2 <= 0.20)
            & (dup5 <= 0.15),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# In-engine statistical LM quality filter (CCNet-style, Wenzek et al.
# 2019): train a char-bigram model on the corpus, score every document
# by its average log-likelihood under that model.
# ---------------------------------------------------------------------------


@query(
    "doc_charlm_score",
    oracle=f"""
    WITH {K.charlm_scores_sql()}
    SELECT doc_id, n_bigrams, sum_logp_unats,
           CAST(sum_logp_unats AS DOUBLE) / (1000000 * n_bigrams) AS avg_logp,
           CAST(CASE WHEN CAST(sum_logp_unats AS DOUBLE) / (1000000 * n_bigrams)
                          >= -4.7 THEN 1 ELSE 0 END AS INT) AS keep
    FROM lm_scores
    """,
)
def doc_charlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality filtering trained entirely in-engine (the
    CCNet recipe with a character bigram model standing in for KenLM):
    count corpus-wide char bigrams, add-one-smooth conditioned on the
    left character, then score each document by its average bigram
    log-likelihood; documents far below the corpus's typical likelihood
    get dropped.

    Determinism: each distinct bigram's log-probability is computed
    ONCE (one exact-integer division, one ln, rounded to integer
    micro-nats), so per-document totals are exact BIGINT sums — no
    float-summation-order hazard; the only double is a final single
    division. Scale shape: the model is |alphabet|^2 rows built with
    one map-side-combined count, then BROADCAST into the scoring join —
    the corpus-side bigram stream never shuffles on the model key; the
    doc rollup is the single big shuffle. At 100 TB the same plan holds
    with a word-ngram model as long as the model side stays
    broadcastable (quantize/prune the vocab first otherwise)."""
    scores = K.charlm_scores(t(spark, sf_dir, "documents"))
    avg = F.col("sum_logp_unats").cast("double") / (1000000 * F.col("n_bigrams"))
    return scores.select(
        "doc_id",
        "n_bigrams",
        "sum_logp_unats",
        avg.alias("avg_logp"),
        F.when(avg >= -4.7, 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Training-mixture construction: per-domain sampling weights under an
# epoch cap (the Pile / data-constrained-scaling recipe).
# ---------------------------------------------------------------------------


@query(
    "corpus_mixture_weights",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({K.TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT *,
             CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
      FROM per_src
    ),
    w AS (
      SELECT *,
             CAST(round(least(
               CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens), 4.0
             ) * 1000000) AS BIGINT) AS weight_ppm
      FROM tot
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
           weight_ppm,
           CAST(weight_ppm * n_tokens AS DOUBLE)
             / CAST(SUM(weight_ppm * n_tokens) OVER () AS DOUBLE) AS mixture_share
    FROM w
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weight assignment: per-source token inventory,
    then a sampling weight that upsamples each source toward a uniform
    target share, capped at 4 epochs (repeating a small domain more
    than ~4x hurts — the data-constrained-scaling rule of thumb), and
    the resulting realized mixture share after the cap.

    Determinism: weights are integer ppm (one division + one round per
    source); realized shares divide exact integer products, so the only
    doubles are single divisions. Scale shape: one corpus-wide
    map-side-combined aggregate to |sources| rows; everything after is
    broadcast arithmetic on the tiny summary — at 100 TB the token
    inventory is the only pass over the data."""
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = per_src.crossJoin(F.broadcast(totals)).withColumn(
        "weight_ppm",
        F.round(
            F.least(
                F.col("total_tokens").cast("double")
                / (F.col("n_sources") * F.col("n_tokens")),
                F.lit(4.0),
            )
            * 1000000
        ).cast("long"),
    )
    denom = w.agg(F.sum(F.col("weight_ppm") * F.col("n_tokens")).alias("wsum"))
    return (
        w.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
                "token_share"
            ),
            "weight_ppm",
            (
                (F.col("weight_ppm") * F.col("n_tokens")).cast("double")
                / F.col("wsum").cast("double")
            ).alias("mixture_share"),
        )
    )


@query(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang, CAST(SUM(len({K.TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    sq AS (
      SELECT lang, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE))) AS BIGINT)
               AS s0
      FROM per_lang
    ),
    isq AS (
      SELECT lang, n_tokens,
             s0 - CASE WHEN s0 * s0 > n_tokens * 1000000 THEN 1 ELSE 0 END
                + CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens * 1000000
                       THEN 1 ELSE 0 END AS s
      FROM sq
    ),
    tot AS (
      SELECT *, SUM(s) OVER () AS stot FROM isq
    ),
    base AS (
      SELECT lang, n_tokens, s, stot,
             (1000000 * s) // stot AS base_alloc,
             1000000 * s - ((1000000 * s) // stot) * stot AS rem
      FROM tot
    ),
    ranked AS (
      SELECT *,
             1000000 - SUM(base_alloc) OVER () AS leftover,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr
      FROM base
    )
    SELECT lang, n_tokens,
           CAST(s AS BIGINT) AS sqrt_weight,
           CAST(base_alloc AS BIGINT) AS share_ppm,
           CAST(base_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SMOOTHED LANGUAGE SAMPLING (α = 0.5) — the
    multilingual mixture rule (mBERT / XLM-R style): sampling weight ∝
    n_tokens^α, which upsamples low-resource languages relative to
    proportional sampling without the hard epoch cap of
    [[corpus_mixture_weights]]. The smoothed weight is the EXACT
    integer square root of n_tokens·10^6 (floor-sqrt in IEEE double,
    then a ±1 integer-square correction — floor(sqrt) can land on the
    wrong side of near-perfect squares, the
    [[parts_eoq_inventory_policy]] lesson), and a 1M-token sample budget is
    allocated by LARGEST-REMAINDER apportionment (floored base shares,
    leftover units to the largest exact remainders, lang tie-break) so
    the allocations sum to the budget exactly — no float weight ever
    touches the allocation.

    Scale shape: one corpus-wide map-side-combined aggregate to |langs|
    rows; the sqrt/apportionment arithmetic runs on that tiny summary
    (window functions over ≤ a few hundred rows). At 100 TB the token
    inventory is the only pass over the data."""
    d = t(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.sum(X.token_count(F.col("text"))).cast("long").alias("n_tokens")
    )
    x = F.col("n_tokens") * F.lit(1000000)
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("long")
    s = (
        s0
        - F.when(s0 * s0 > x, 1).otherwise(0)
        + F.when((s0 + 1) * (s0 + 1) <= x, 1).otherwise(0)
    )
    isq = per_lang.withColumn("s", s)
    w_all = Window.partitionBy()
    tot = isq.withColumn("stot", F.sum("s").over(w_all))
    base = tot.select(
        "lang",
        "n_tokens",
        "s",
        "stot",
        F.expr("(1000000 * s) div stot").alias("base_alloc"),
        (
            F.lit(1000000) * F.col("s")
            - F.expr("(1000000 * s) div stot") * F.col("stot")
        ).alias("rem"),
    )
    ranked = base.withColumn(
        "leftover", F.lit(1000000) - F.sum("base_alloc").over(w_all)
    ).withColumn(
        "rr",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("rem").desc(), F.col("lang"))
        ),
    )
    return ranked.select(
        "lang",
        "n_tokens",
        F.col("s").cast("long").alias("sqrt_weight"),
        F.col("base_alloc").cast("long").alias("share_ppm"),
        (
            F.col("base_alloc")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


@query(
    "doc_span_corruption",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, unnest(range(1, len({K.TOKENS_SQL}) + 1)) AS p
      FROM documents
    ),
    st AS (
      SELECT doc_id, p,
             CASE WHEN (doc_id * 7919 + p * 104729) % 100 < 6
                  THEN 1 ELSE 0 END AS s
      FROM pos
    ),
    mk AS (
      SELECT doc_id, p,
             MAX(s) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
      FROM st
    ),
    fl AS (
      SELECT doc_id, p, m,
             CASE WHEN m = 1 AND COALESCE(LAG(m) OVER (
                    PARTITION BY doc_id ORDER BY p), 0) = 0
                  THEN 1 ELSE 0 END AS sent
      FROM mk
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           CAST(SUM(sent) AS BIGINT) AS n_sentinels,
           CAST(SUM(m * p) AS BIGINT) AS masked_pos_sum
    FROM fl GROUP BY doc_id
    """,
)
def doc_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-CORRUPTION EXAMPLE CONSTRUCTION (the T5 denoising
    objective): each token position deterministically starts a
    3-token mask span with probability 6% (hash rule
    ``(doc_id·7919 + p·104729) mod 100 < 6`` — derandomized, so both
    engines and any replay pick identical spans; the importance-sampling
    / negative-sampling house pattern), overlapping spans MERGE, and
    each maximal masked run becomes one sentinel — the statistic pair
    every span-corruption pipeline audits (corruption rate ≈ 17%,
    spans/doc) before training. Per doc: token count, masked-token
    count, sentinel count, and the exact masked-position sum (a
    position-sensitive checksum — any off-by-one in the span window or
    run merging shifts it).

    Scale shape: positions explode once and every step — the span
    window (ROWS 2 PRECEDING), the run-start lag, the rollup — shares
    ONE hash partitioning on doc_id; a single shuffle of token rows at
    any scale. Sentinels are the gaps-and-islands count, the same
    relational form as [[doc_token_runs]]'s documented hot path."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("p0", "tok")
    )
    pos = d.select("doc_id", (F.col("p0") + 1).alias("p"))
    st = pos.withColumn(
        "s",
        F.when(
            (F.col("doc_id") * 7919 + F.col("p") * 104729) % 100 < 6, 1
        ).otherwise(0),
    )
    wspan = (
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(-2, 0)
    )
    mk = st.withColumn("m", F.max("s").over(wspan))
    wlag = Window.partitionBy("doc_id").orderBy("p")
    fl = mk.withColumn(
        "sent",
        F.when(
            (F.col("m") == 1)
            & (F.coalesce(F.lag("m").over(wlag), F.lit(0)) == 0),
            1,
        ).otherwise(0),
    )
    return fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("m").cast("long").alias("n_masked"),
        F.sum("sent").cast("long").alias("n_sentinels"),
        F.sum(F.col("m") * F.col("p")).cast("long").alias("masked_pos_sum"),
    )


@query(
    "corpus_epoch_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id, e.epoch,
             CAST(CAST('0x' || substr(md5(e.epoch || ':' || doc_id), 1, 8)
                       AS BIGINT) AS BIGINT) AS h
      FROM documents
      CROSS JOIN (VALUES (0), (1), (2)) AS e(epoch)
    ),
    ranked AS (
      SELECT epoch, doc_id, h, h % 4 AS shard,
             row_number() OVER (PARTITION BY epoch, h % 4
                                ORDER BY h, doc_id) AS rn
      FROM h
    )
    SELECT CAST(epoch AS INTEGER) AS epoch,
           CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS first_doc_id,
           CAST(SUM(h) AS BIGINT) AS order_checksum,
           CAST(SUM(rn * doc_id) AS BIGINT) AS position_checksum
    FROM ranked GROUP BY epoch, shard
    """,
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRODUCIBLE EPOCH SHUFFLING — the data-loader contract every
    multi-epoch training run needs: epoch e's global order is
    ``md5(e || ':' || doc_id)`` (seeded, data-independent, and
    NONLINEAR — the [[events_hll_distinct]] affine-hash lesson: a
    linear hash would keep dense id ranges lattice-ordered and the
    "shuffle" wouldn't shuffle), documents shard by hash mod 4, and
    each (epoch, shard) reports its size, its first document, the
    order-free hash checksum, and a POSITION-weighted id checksum —
    the latter moves if any two documents swap places, which is what
    pins per-epoch order reproducibility across reruns and engines.

    Scale shape: one projection fans out |epochs|× (constant), then a
    single hash partitioning on (epoch, shard) carries both the
    within-shard rank and the rollup; at 100 TB each shard sorts
    locally after the one shuffle — exactly how a deterministic
    dataloader materializes epoch files."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    epochs = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("epoch")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("epoch"), F.lit(":"), F.col("doc_id"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    hashed = d.select("doc_id", epochs).select(
        "epoch", "doc_id", h.alias("h"), (h % 4).alias("shard")
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(
        F.col("epoch").cast("int").alias("epoch"),
        F.col("shard").cast("int").alias("shard"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("long")
        .alias("first_doc_id"),
        F.sum("h").cast("long").alias("order_checksum"),
        F.sum(F.col("rn") * F.col("doc_id"))
        .cast("long")
        .alias("position_checksum"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring coverage (the char-level exact-substring
# dedup signal of Lee et al. 2021, arXiv:2107.06499): which spans of
# each document also appear verbatim in another document.
# ---------------------------------------------------------------------------

_DUPSPAN_L = 40

# The gram key is the first 15 hex digits of md5(gram), 60 bits: 8
# digits would be a 32-bit space where 150M grams collide ~1%; at 60
# bits expected cross-gram collisions over the whole corpus are ~0.01
# pairs, and any that occur are deterministic and mirrored by the oracle.


@query(
    "doc_dup_substring_coverage",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lower(trim(text)) AS s,
             CAST(length(lower(trim(text))) AS BIGINT) AS n_chars
      FROM documents
    ),
    grams AS (
      SELECT doc_id, s,
             unnest(range(1, length(s) - {_DUPSPAN_L} + 2)) AS pos
      FROM s WHERE length(s) >= {_DUPSPAN_L}
    ),
    gpos AS (
      SELECT doc_id, pos,
             {SQL_MD5_INT(f"substr(s, pos, {_DUPSPAN_L})", 15)} AS h
      FROM grams
    ),
    dup AS (
      SELECT h FROM gpos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT doc_id, pos FROM gpos JOIN dup USING (h)),
    islands AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_DUPSPAN_L}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR pos >= max(pos + {_DUPSPAN_L}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    numbered AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM islands
    ),
    spans AS (
      SELECT doc_id, island,
             CAST(MAX(pos) + {_DUPSPAN_L} - MIN(pos) AS BIGINT) AS covered,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM numbered GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(covered) AS BIGINT) AS covered_chars,
             CAST(SUM(n_pos) AS BIGINT) AS n_dup_positions,
             CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_chars,
           COALESCE(p.n_dup_positions, 0) AS n_dup_positions,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.covered_chars, 0) AS covered_chars,
           CAST(COALESCE(p.covered_chars, 0) AS DOUBLE) / s.n_chars
             AS dup_char_frac
    FROM s LEFT JOIN per_doc p USING (doc_id)
    """,
)
def doc_dup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage: every char 40-gram that
    appears verbatim in >= 2 distinct documents marks its positions as
    duplicated; overlapping marked windows merge into maximal spans
    (gaps-and-islands over positions), and each document reports how
    much of it is covered by cross-document verbatim repetition — the
    removal signal of suffix-array exact-substring dedup, computed
    relationally.

    Scale shape: the gram stream is one codegen projection + explode
    (never a suffix array in memory) keyed by a 60-bit md5-prefix hash
    — shuffling 8-byte keys instead of 40-char grams (the string form
    shuffled ~10 GB at sf1.0 and spilled erratically: 110-200s
    measured; the hashed, checkpointed form is ~55s). The gram stream
    is localCheckpoint-materialized once because BOTH the
    duplicate-key count and the position join consume it — lazily it
    would pay the 150M-md5 projection twice. Duplicated grams fall out
    of one map-side-combined distinct-doc count; the join back is an
    equi-join on the same key; span merging is a per-doc window over
    only the HIT positions. Everything is exact integer arithmetic."""
    d = t(spark, sf_dir, "documents")
    L = _DUPSPAN_L
    s = d.select(
        "doc_id",
        F.lower(F.trim(F.col("text"))).alias("s"),
    ).withColumn("n_chars", F.length("s").cast("long"))
    # the per-position md5 projection is the query's dominant CPU, and
    # the documents table is one small parquet file, so without the
    # repartition the explode+md5 runs as ONE task. At cluster scale the
    # scan is already many-partitioned and this one narrow exchange of
    # raw docs is noise next to the gram stream it fans out into.
    from ..session import default_parallelism

    gpos = (
        s.filter(F.length("s") >= L)
        .repartition(default_parallelism(), "doc_id")
        .select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(1), F.length("s") - L + 1)).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(s, pos, {L})")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .localCheckpoint()
    )
    dup = (
        gpos.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = gpos.join(dup, "h").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + L).over(w_prev)
    numbered = hits.withColumn(
        "island",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0)
        ).over(w_run),
    )
    spans = numbered.groupBy("doc_id", "island").agg(
        (F.max("pos") + L - F.min("pos")).cast("long").alias("covered"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("covered").alias("covered_chars"),
        F.sum("n_pos").alias("n_dup_positions"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return (
        s.select("doc_id", "n_chars")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("covered_chars", F.lit(0)).alias("covered_chars"),
            (
                F.coalesce("covered_chars", F.lit(0)).cast("double")
                / F.col("n_chars")
            ).alias("dup_char_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary scaling: V(n) ~ K * n^beta, fitted in-engine
# ---------------------------------------------------------------------------


@query(
    "corpus_heaps_law",
    oracle=f"""
    WITH tok_first AS (
      SELECT token, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest({K.TOKENS_SQL}) AS token FROM documents)
      GROUP BY token
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(len({K.TOKENS_SQL}) AS BIGINT) AS n_toks
      FROM documents
    ),
    n_docs AS (SELECT CAST(MAX(doc_id) AS BIGINT) + 1 AS nd FROM documents),
    deciles AS (
      SELECT CAST(d AS BIGINT) AS decile,
             CAST((SELECT nd FROM n_docs) * d / 10 AS BIGINT) AS cutoff
      FROM (SELECT unnest(range(1, 11)) AS d)
    ),
    points AS (
      SELECT dc.decile,
             (SELECT CAST(SUM(n_toks) AS BIGINT) FROM doc_tokens
              WHERE doc_id < dc.cutoff) AS corpus_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM tok_first
              WHERE first_doc < dc.cutoff) AS vocab_size
      FROM deciles dc
    ),
    logs AS (
      SELECT decile, corpus_tokens, vocab_size,
             CAST(round(ln(CAST(corpus_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS lx,
             CAST(round(ln(CAST(vocab_size AS DOUBLE)) * 1000000) AS BIGINT)
               AS ly
      FROM points
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx
      FROM logs
    )
    SELECT l.decile, l.corpus_tokens, l.vocab_size,
           CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
             / CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE) AS heaps_beta
    FROM logs l, fit f
    """,
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW scaling fit: vocabulary size as a function of corpus
    size at ten growth checkpoints, with the scaling exponent beta
    from a log-log OLS — the corpus-linguistics law (V ~ K*n^beta,
    beta ~ 0.4-0.6 for natural text) that planners use to forecast
    vocabulary/embedding-table growth before scaling a corpus 100x.
    V(n) for EVERY checkpoint comes from one pass: each token's
    first-occurrence doc (the first-seen trick from the rolling-
    uniques query), so vocab at cutoff = tokens first seen before it —
    no per-checkpoint rescans.

    Determinism: checkpoint counts are exact; logs are rounded integer
    micro-nats; the OLS slope is one division of exact integer
    moments."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
    tok_first = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = d.select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("n_toks")
    )
    nd = d.agg((F.max("doc_id") + 1).alias("nd")).collect()[0]["nd"]
    cuts = [(dec, nd * dec // 10) for dec in range(1, 11)]
    deciles = spark.createDataFrame(cuts, "decile long, cutoff long")
    points = (
        deciles.crossJoin(F.broadcast(tok_first))
        .groupBy("decile", "cutoff")
        .agg(
            F.sum(F.when(F.col("first_doc") < F.col("cutoff"), 1).otherwise(0))
            .alias("vocab_size")
        )
        .join(
            deciles.crossJoin(doc_tokens)
            .groupBy(F.col("decile").alias("d2"))
            .agg(
                F.sum(
                    F.when(F.col("doc_id") < F.col("cutoff"), F.col("n_toks"))
                    .otherwise(0)
                ).alias("corpus_tokens")
            ),
            F.col("decile") == F.col("d2"),
        )
        .select("decile", "corpus_tokens", "vocab_size")
    )
    logs = points.select(
        "decile",
        "corpus_tokens",
        "vocab_size",
        F.round(F.log(F.col("corpus_tokens").cast("double")) * 1000000)
        .cast("long")
        .alias("lx"),
        F.round(F.log(F.col("vocab_size").cast("double")) * 1000000)
        .cast("long")
        .alias("ly"),
    )
    fit = logs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return logs.crossJoin(F.broadcast(fit)).select(
        "decile", "corpus_tokens", "vocab_size", beta.alias("heaps_beta")
    )


@query(
    "corpus_zipf_law",
    oracle=f"""
    WITH freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest({K.TOKENS_SQL}) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT token, f,
             row_number() OVER (ORDER BY f DESC, token) AS r
      FROM freq
    ),
    logs AS (
      SELECT token, f, CAST(r AS BIGINT) AS r,
             CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS ly
      FROM ranked WHERE r <= 100
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx
      FROM logs
    )
    SELECT l.r AS rank, l.token, l.f AS frequency,
           CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
             / CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE) AS zipf_slope
    FROM logs l, fit f
    WHERE l.r <= 10
    """,
)
def corpus_zipf_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW rank-frequency fit, the companion scaling law to
    corpus_heaps_law: token frequencies ranked (total order: count
    desc, token asc), the top-100 log-log OLS slope estimates -s in
    f ~ C/r^s (natural text sits near -1; this synthetic vocabulary's
    flatness is itself the diagnostic — a corpus whose top ranks are
    too flat or too steep has boilerplate or coverage problems). Top
    10 ranks reported with the fitted slope; same micro-nat log +
    exact-integer-moment discipline as the Heaps fit."""
    d = t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("token"))
    ranked = freq.withColumn("r", F.row_number().over(w).cast("long")).filter(
        F.col("r") <= 100
    )
    logs = ranked.select(
        "token",
        "f",
        "r",
        F.round(F.log(F.col("r").cast("double")) * 1000000)
        .cast("long")
        .alias("lx"),
        F.round(F.log(F.col("f").cast("double")) * 1000000)
        .cast("long")
        .alias("ly"),
    )
    fit = logs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        logs.filter(F.col("r") <= 10)
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("r").alias("rank"),
            "token",
            F.col("f").alias("frequency"),
            slope.alias("zipf_slope"),
        )
    )


# ---------------------------------------------------------------------------
# Trigram-index substring search (the code-search-engine pattern)
# ---------------------------------------------------------------------------

_TRIGRAM_QUERIES = [("q1", "key order"), ("q2", "window win"), ("q3", "zzz none")]
_TRIGRAM_Q_SQL = ", ".join(f"('{n}', '{p}')" for n, p in _TRIGRAM_QUERIES)


@query(
    "doc_trigram_search",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lower(trim(text)) AS s FROM documents
    ),
    postings AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, substr(s, i, 3) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(s) - 1)) AS i)
        WHERE length(s) >= 3
      )
    ),
    queries(qname, pat) AS (VALUES {_TRIGRAM_Q_SQL}),
    qgrams AS (
      SELECT DISTINCT qname, pat, substr(pat, i, 3) AS g
      FROM queries, LATERAL (SELECT unnest(range(1, length(pat) - 1)) AS i)
    ),
    qsizes AS (
      SELECT qname, CAST(COUNT(*) AS BIGINT) AS n_qgrams
      FROM qgrams GROUP BY qname
    ),
    cands AS (
      SELECT q.qname, q.pat, p.doc_id
      FROM qgrams q JOIN postings p USING (g) JOIN qsizes z USING (qname)
      GROUP BY q.qname, q.pat, p.doc_id, z.n_qgrams
      HAVING COUNT(DISTINCT q.g) = z.n_qgrams
    ),
    verified AS (
      SELECT c.qname, c.doc_id
      FROM cands c JOIN docs d USING (doc_id)
      WHERE contains(d.s, c.pat)
    )
    SELECT q.qname,
           CAST(COALESCE(cn.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(v.n_matches, 0) AS BIGINT) AS n_matches
    FROM queries q
    LEFT JOIN (SELECT qname, COUNT(*) AS n_candidates FROM cands GROUP BY qname)
      cn USING (qname)
    LEFT JOIN (SELECT qname, COUNT(*) AS n_matches FROM verified GROUP BY qname)
      v USING (qname)
    """,
)
def doc_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING SEARCH over the corpus through a character-TRIGRAM
    index (the Google-Code-Search design): every document posts its
    distinct char 3-grams once; a query pattern becomes its own
    trigram set, candidates are documents containing ALL query
    trigrams (postings equi-join + count filter — never a scan of the
    text column), and only candidates pay the actual substring verify.
    Three probe queries: a common phrase, a mid-frequency one, and a
    guaranteed miss (zero candidates — the index proves absence
    without touching a single document).

    Scale shape: the index build is one explode + distinct (the same
    shape as the inverted token index); each search touches
    |pattern-trigram postings| rows only. Candidate counts vs verified
    counts expose the index's false-candidate rate."""
    d = t(spark, sf_dir, "documents")
    s = F.lower(F.trim(F.col("text")))
    docs = d.select("doc_id", s.alias("s"))
    postings = (
        docs.filter(F.length("s") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length("s") - 2),
                        lambda i: F.col("s").substr(i, F.lit(3)),
                    )
                )
            ).alias("g"),
        )
    )
    queries = spark.createDataFrame(_TRIGRAM_QUERIES, "qname string, pat string")
    qgrams = queries.select(
        "qname",
        "pat",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("pat") - 2),
                    lambda i: F.col("pat").substr(i, F.lit(3)),
                )
            )
        ).alias("g"),
    )
    qsizes = qgrams.groupBy("qname").agg(
        F.count(F.lit(1)).cast("long").alias("n_qgrams")
    )
    qgrams = qgrams.join(qsizes, "qname")
    cands = (
        qgrams.join(postings, "g")
        .groupBy("qname", "pat", "doc_id", "n_qgrams")
        .agg(F.countDistinct("g").alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_qgrams"))
    )
    verified = (
        cands.join(docs, "doc_id")
        .filter(F.expr("contains(s, pat)"))
        .groupBy("qname")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    cand_counts = cands.groupBy("qname").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        queries.join(cand_counts, "qname", "left")
        .join(verified, "qname", "left")
        .select(
            "qname",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING in-engine: three greedy merge rounds over the
# corpus vocabulary (doc_bpe_pair_counts is one round's counting; this
# is the full count → argmax → merge → recount loop).
# ---------------------------------------------------------------------------

_BPE_SEP = "\x1f"


def _bpe_merge_sql(vocab: str, best: str) -> str:
    """Greedy leftmost merge of the round's best pair into every
    word's separator-joined symbol string. The fold keeps the merged
    prefix as a STRING and tests whether its SUFFIX is a complete
    symbol equal to `a` (string boundaries via chr(31)), which is
    exactly the array-fold semantics: [a,a,a] + (a,a) → [aa,a], never
    the overlapping [aa,aa←]."""
    return f"""
      SELECT list_reduce(list_prepend('', string_split(v.seq, chr(31))),
               (acc, x) -> CASE
                 WHEN acc = '' THEN x
                 WHEN x = b.b AND (acc = b.a
                                   OR ends_with(acc, chr(31) || b.a))
                   THEN left(acc, length(acc) - length(b.a)) || b.a || b.b
                 ELSE acc || chr(31) || x END) AS seq,
             v.freq
      FROM {vocab} v CROSS JOIN {best} b"""


def _bpe_round_sql(i: int) -> str:
    return f"""
    pairs{i} AS (
      SELECT u.a, u.b, freq FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(l)),
                      j -> struct_pack(a := l[j], b := l[j+1]))) AS u
        FROM (SELECT string_split(seq, chr(31)) AS l, freq FROM vocab{i})
        WHERE len(l) >= 2
      )
    ),
    best{i} AS (
      SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pairs{i} GROUP BY a, b
      ORDER BY cnt DESC, a, b LIMIT 1
    ),
    vocab{i + 1} AS MATERIALIZED ({_bpe_merge_sql(f"vocab{i}", f"best{i}")})"""


@query(
    "doc_bpe_train_merges",
    oracle=f"""
    WITH vocab0 AS MATERIALIZED (
      SELECT array_to_string(string_split(tok, ''), chr(31)) AS seq,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest({K.TOKENS_SQL}) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY tok
    ),
    {','.join(_bpe_round_sql(i) for i in range(3))}
    SELECT CAST(0 AS INT) AS merge_round, a AS sym_a, b AS sym_b,
           cnt AS pair_count FROM best0
    UNION ALL
    SELECT 1, a, b, cnt FROM best1
    UNION ALL
    SELECT 2, a, b, cnt FROM best2
    """,
)
def doc_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING (Sennrich et al., ACL'16), three merge
    rounds fully in-engine: split the corpus VOCABULARY (distinct
    token → occurrence count — the classic BPE trick: pair statistics
    over the vocab weighted by frequency, never over raw text) into
    character symbols, then per round count adjacent symbol pairs,
    take the global argmax (count desc, pair lexicographic — a total
    order), and greedily merge it into every word. The merge is a
    boundary-aware string fold ([a,a,a] + (a,a) → [aa,a], leftmost
    non-overlapping), identical in both engines.

    Scale shape: the vocab is a distinct-token aggregate (one shuffle
    of token hashes, map-side combined); each round is one pair-count
    aggregate over |vocab| rows + a TakeOrdered(1) + one projection —
    per-round cost scales with vocabulary size, not corpus size, which
    is what makes BPE trainable on a 100 TB corpus at all. The best
    pair per round is driver-side metadata (like k-means centroids).

    Output: (merge_round, sym_a, sym_b, pair_count) for rounds 0-2."""
    from ..functions.text import tokens

    SEP = _BPE_SEP
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.array_join(F.split(F.col("tok"), ""), SEP).alias("seq"),
            "freq",
        )
        .localCheckpoint()
    )
    merges = []
    for rnd in range(3):
        sym = F.split(F.col("seq"), SEP)
        pair_structs = F.zip_with(
            F.slice(sym, 1, F.size(sym) - 1),
            F.slice(sym, 2, F.size(sym) - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        prs = vocab.filter(F.size(sym) >= 2).select(
            "freq", F.explode(pair_structs).alias("p")
        )
        best = (
            prs.groupBy(
                F.col("p.a").alias("a"), F.col("p.b").alias("b")
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()[0]
        )
        merges.append((rnd, best["a"], best["b"], best["cnt"]))
        a, b = best["a"], best["b"]
        merged = F.aggregate(
            F.split(F.col("seq"), SEP),
            F.lit(""),
            lambda acc, x: F.when(acc == "", x)
            .when(
                (x == b)
                & ((acc == a) | F.endswith(acc, F.lit(SEP + a))),
                F.concat(
                    F.substring(acc, F.lit(1), F.length(acc) - len(a)),
                    F.lit(a + b),
                ),
            )
            .otherwise(F.concat(acc, F.lit(SEP), x)),
        )
        vocab = vocab.select(merged.alias("seq"), "freq").localCheckpoint()
    return spark.createDataFrame(
        merges,
        schema="merge_round int, sym_a string, sym_b string, pair_count bigint",
    )


#: 32-bit md5-prefix hash of the doc id (the engine's portable
#: content-hash pattern — nonlinear, so acceptance is uniform).
_IMP_U_SQL = SQL_MD5_INT("CAST(doc_id AS VARCHAR)", 8)


@query(
    "doc_importance_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, least(n_chars, 2000) AS wt FROM documents
    ),
    mx AS (SELECT MAX(wt) AS max_w FROM w),
    dec AS (
      SELECT lang, doc_id, wt,
             CASE WHEN {_IMP_U_SQL} * (SELECT max_w FROM mx)
                       < wt * 4294967296 THEN 1 ELSE 0 END AS acc
      FROM w
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(acc) AS BIGINT) AS n_accepted,
           CAST(SUM(CASE WHEN acc = 1 THEN doc_id ELSE 0 END) AS BIGINT)
             AS accepted_checksum
    FROM dec GROUP BY lang
    """,
)
def doc_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IMPORTANCE SAMPLING for corpus curation: each doc
    is accepted with probability weight/max_weight (weight = capped
    length — the slot where a quality or domain-balance score plugs
    in), decided by comparing a 32-bit md5 hash of the doc id against
    the weight in EXACT integer arithmetic (``u·max_w < w·2^32`` — no
    float probability, no RNG). Hash-based acceptance means the chosen
    set is a pure function of the data: retries, repartitions, and
    re-runs select identical docs (the corpus_shard_assignment rule),
    and the oracle certifies the exact accepted set via checksum.

    Scale shape: one scan + one broadcast scalar (max weight); the
    acceptance test is a codegen projection. This is how you thin a
    100 TB crawl to a weighted subsample without a shuffle."""
    w = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.least("n_chars", F.lit(2000)).alias("wt")
    )
    mx = w.agg(F.max("wt").alias("max_w"))
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    dec = w.join(F.broadcast(mx)).withColumn(
        "acc",
        F.when(u * F.col("max_w") < F.col("wt") * F.lit(4294967296), 1).otherwise(0),
    )
    return dec.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("acc").cast("long").alias("n_accepted"),
        F.sum(F.when(F.col("acc") == 1, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("accepted_checksum"),
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram LM ratio)
# ---------------------------------------------------------------------------

_DSIR_B = 64


@query(
    "corpus_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {K.TOKEN_HASHES_SQL} AS th FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               th,
               list_transform(range(1, len(th)),
                              i -> (th[i]*131 + th[i+1]) % 2147483647)
             )) % {_DSIR_B} AS b
      FROM toks
    ),
    cnts AS (
      SELECT b, COUNT(*) AS cr,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM feats GROUP BY b
    ),
    bt AS (
      SELECT r.b, coalesce(c.cr, 0) AS cr, coalesce(c.ct, 0) AS ct
      FROM (SELECT unnest(range(0, {_DSIR_B})) AS b) r
      LEFT JOIN cnts c USING (b)
    ),
    tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
            FROM bt),
    lr AS (
      SELECT b,
             CAST(round(ln(
               CAST((ct + 1) * (tr + {_DSIR_B}) AS DOUBLE)
               / CAST((cr + 1) * (tt + {_DSIR_B}) AS DOUBLE)
             ) * 1000000) AS BIGINT) AS lrw
      FROM bt CROSS JOIN tot
    ),
    scored AS (
      SELECT f.doc_id, any_value(f.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_features,
             CAST(SUM(l.lrw) AS BIGINT) AS dsir_micro_nats
      FROM feats f JOIN lr l USING (b)
      GROUP BY f.doc_id
    )
    SELECT doc_id, lang, n_features, dsir_micro_nats,
           CAST(dsir_micro_nats AS DOUBLE) / n_features AS per_feature
    FROM scored
    ORDER BY dsir_micro_nats DESC, doc_id
    LIMIT 20
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., arXiv:2302.03169): score
    every document by the log-likelihood ratio of a hashed-n-gram
    bag-of-words model of the TARGET distribution (here: the English
    slice) against the RAW corpus, then keep the top-weighted docs —
    the standard recipe for steering a web-scale corpus toward a
    target domain without training a classifier.

    Features are unigram + bigram token hashes folded into 64 buckets;
    bucket log-ratios (Laplace-smoothed) are computed ONCE each and
    rounded to integer micro-nats, so per-doc totals are exact BIGINT
    sums (the charlm determinism pattern — no float-order hazard).
    Scale: the 64-row ratio table is broadcast; the corpus side is the
    DISTINCT-TOKEN-dim hashing discipline (``hashed_token_rows`` —
    char folds run once per vocabulary entry, not per occurrence; the
    in-array ``token_hash_array`` form re-evaluated the interpreted
    fold per occurrence AND per consumer, 33.7s → 4.4s at sf1.0),
    one doc-keyed window for the bigram pairing, one explode, one
    map-side-combined groupBy(doc).
    """
    from ..functions.text import HASH_P as P
    from ..operators.dedup import hashed_token_rows

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = hashed_token_rows(d, "doc_id", "text")
    wdoc = Window.partitionBy("doc_id").orderBy("_pos")
    tb = toks.withColumn("_hn", F.lead("_h", 1).over(wdoc))
    # one row per unigram, plus the bigram fold where a successor
    # exists — a single window pass and a single explode
    pair = F.when(
        F.col("_hn").isNull(), F.array(F.col("_h"))
    ).otherwise(
        F.array(F.col("_h"), (F.col("_h") * 131 + F.col("_hn")) % P)
    )
    # the bucket-ratio pass and the scoring join both read the
    # per-(doc, bucket) count panel (|docs|·64 rows, never token-scale),
    # checkpointed so the corpus-side pipeline runs once; both fold
    # from it with exact integer arithmetic (Σ lrw per row ≡ Σ n·lrw)
    db = (
        tb.select("doc_id", F.explode(pair).alias("h"))
        .join(F.broadcast(d.select("doc_id", "lang")), "doc_id")
        .select("doc_id", "lang", (F.col("h") % _DSIR_B).alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cnts = db.groupBy("b").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0)).alias("ct"),
    )
    bt = (
        spark.range(_DSIR_B)
        .select(F.col("id").cast("long").alias("b"))
        .join(cnts, "b", "left")
        .select(
            "b",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    tot = bt.agg(
        F.sum("cr").cast("long").alias("tr"), F.sum("ct").cast("long").alias("tt")
    )
    lr = bt.join(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("tr") + _DSIR_B)).cast("double")
                / ((F.col("cr") + 1) * (F.col("tt") + _DSIR_B)).cast("double")
            )
            * 1000000
        )
        .cast("long")
        .alias("lrw"),
    )
    scored = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.sum("n").cast("long").alias("n_features"),
            F.sum(F.col("n") * F.col("lrw")).cast("long").alias("dsir_micro_nats"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_features",
            "dsir_micro_nats",
            (F.col("dsir_micro_nats").cast("double") / F.col("n_features")).alias(
                "per_feature"
            ),
        )
        .orderBy(F.col("dsir_micro_nats").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval + reciprocal-rank-fusion hybrid search
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge")
_BM25_TERMS_SQL = "('spark', 'merge')"

#: shared CTE chain: per-doc term frequencies for the query terms, doc
#: lengths, corpus stats, micro-nat idf, and the BM25 per-term partial.
#: k1=1.2, b=0.75 appear as the SAME literals and parenthesization on
#: both engines so every float op replays identically.
_BM25_CTES = f"""
    docs AS (
      SELECT doc_id, len({K.TOKENS_SQL}) AS dl FROM documents
    ),
    occ AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest({K.TOKENS_SQL}) AS tok FROM documents)
      WHERE tok IN {_BM25_TERMS_SQL}
    ),
    tf AS (
      SELECT o.doc_id, o.tok, COUNT(*) AS tf, any_value(d.dl) AS dl
      FROM occ o JOIN docs d USING (doc_id)
      GROUP BY o.doc_id, o.tok
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM docs
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    idf AS (
      SELECT tok,
             CAST(round(ln((n_docs - df + 0.5) / (df + 0.5)) * 1000000)
                  AS BIGINT) AS idf_micro
      FROM dfreq CROSS JOIN stats
    ),
    partials AS (
      SELECT t.doc_id, t.tok,
             CAST(round(
               i.idf_micro * ((t.tf * 2.2)
                 / (t.tf + (1.2 * (0.25 + ((0.75 * t.dl) / s.avgdl)))))
             ) AS BIGINT) AS score_micro
      FROM tf t JOIN idf i USING (tok) CROSS JOIN stats s
    ),
    bm25 AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
      FROM partials GROUP BY doc_id
    )
"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_terms, bm25_micro) for the fixed 2-term query —
    the Spark twin of the ``_BM25_CTES`` chain."""
    d = t(spark, sf_dir, "documents")
    # docs/tf feed multiple branches, but exchange reuse covers the
    # shared subtrees at runtime; lazy checkpoints measured slower
    # (0.60 plain vs 0.71)
    docs = d.select("doc_id", F.size(X.tokens(F.col("text"))).alias("dl"))
    occ = (
        d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
    )
    tf = (
        occ.join(docs, "doc_id")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.join(F.broadcast(stats)).select(
        "tok",
        F.round(
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * 1000000
        )
        .cast("long")
        .alias("idf_micro"),
    )
    partials = (
        tf.join(F.broadcast(idf), "tok")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("idf_micro")
                * (
                    (F.col("tf") * 2.2)
                    / (
                        F.col("tf")
                        + (1.2 * (0.25 + ((0.75 * F.col("dl")) / F.col("avgdl"))))
                    )
                )
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    return partials.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("score_micro").cast("long").alias("bm25_micro"),
    )


@query(
    "doc_bm25_search",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, n_terms, bm25_micro
    FROM bm25
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 10
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75)
    for a fixed two-term query over the documents table.

    Determinism: idf is one ln per TERM rounded to integer micro-nats;
    each (doc, term) partial is a single literal-parenthesized float
    expression rounded to BIGINT, so the per-doc total is an exact
    integer sum — no float-order hazard anywhere. Scale shape: the
    term filter prunes the posting stream at the scan, the idf/stats
    tables are broadcast dims, and the only shuffles are the two
    doc-keyed aggregates. Retrieval-layer extension beyond the
    reference's LIKE-based lookups (dashboard.py query endpoints).
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(10)
    )


_DOT_EQ = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)
#: fold-based cosine(embedding, q) — bit-equal twin of functions.vectors.cosine
_cos_embed = (
    f"{_DOT_EQ.format(a='embedding', b='q')} / "
    f"(sqrt({_DOT_EQ.format(a='embedding', b='embedding')}) "
    f"* sqrt({_DOT_EQ.format(a='q', b='q')}))"
)


@query(
    "doc_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_CTES},
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS r_lex
      FROM bm25
      ORDER BY r_lex LIMIT 20
    ),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (
               ORDER BY {_cos_embed} DESC, vec_id) AS r_sem
      FROM embeddings CROSS JOIN qv
      WHERE vec_id <> 0
      ORDER BY r_sem LIMIT 20
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             l.r_lex, s.r_sem,
             (CASE WHEN l.r_lex IS NULL THEN 0.0
                   ELSE 1.0 / (60 + l.r_lex) END
              + CASE WHEN s.r_sem IS NULL THEN 0.0
                     ELSE 1.0 / (60 + s.r_sem) END) AS rrf
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, r_lex, r_sem, rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 lexical ranks fused with embedding-cosine
    semantic ranks by Reciprocal Rank Fusion (Cormack et al., SIGIR'09;
    rrf = Σ 1/(60+rank)). Top-20 of each leg feed the fusion, a full
    outer join on doc id; a doc missing from one leg contributes 0
    from it. The fused score is a fixed-order two-term sum — exact
    replay on both engines.

    Scale: each leg is already bounded (top-k per retriever), so the
    fusion join touches ≤40 rows regardless of corpus size; the legs
    themselves keep their own scale shapes (BM25 above; the semantic
    leg swaps in any ANN variant unchanged)."""
    from ..functions.vectors import cosine

    bm25 = _bm25_scores(spark, sf_dir)
    w_lex = Window.orderBy(F.col("bm25_micro").desc(), "doc_id")
    lex = (
        bm25.withColumn("r_lex", F.row_number().over(w_lex))
        .orderBy("r_lex")
        .limit(20)
        .select("doc_id", "r_lex")
    )
    e = t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    w_sem = Window.orderBy(F.col("_cos").desc(), "doc_id")
    sem = (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("q")).alias("_cos"),
        )
        .withColumn("r_sem", F.row_number().over(w_sem))
        .orderBy("r_sem")
        .limit(20)
        .select("doc_id", "r_sem")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            (
                F.when(F.col("r_lex").isNull(), 0.0).otherwise(
                    1.0 / (60 + F.col("r_lex"))
                )
                + F.when(F.col("r_sem").isNull(), 0.0).otherwise(
                    1.0 / (60 + F.col("r_sem"))
                )
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


def _bpe_chain_parts(n_merges: int) -> list[str]:
    """Shared CTE chain unrolling the BPE training loop —
    one (pairs, best, cand, taken, words) block per round. Greedy
    non-overlapping application is relational: candidate positions form
    runs of consecutive indices; within a run every other position
    starting at the run head is taken (a candidate conflicts only with
    its immediate neighbor, since positions i and i+1 share a symbol).
    MATERIALIZED is load-bearing: DuckDB inlines CTEs, and words_{r-1}
    is referenced three times per round — un-materialized, the chain
    re-evaluates 3^r times (the embeddings_dbscan lesson)."""
    parts = [
        f"""words_0 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
             string_split(word, '') AS syms
      FROM (SELECT unnest({K.TOKENS_SQL}) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    )"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(
            f"""pairs_{r} AS (
      SELECT u.a AS a, u.b AS b, SUM(cnt) AS n FROM (
        SELECT cnt, unnest(list_transform(range(1, len(syms)),
                    i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS u
        FROM words_{p} WHERE len(syms) >= 2)
      GROUP BY 1, 2
    ),
    best_{r} AS MATERIALIZED (
      SELECT a, b, n FROM pairs_{r} ORDER BY n DESC, a, b LIMIT 1
    ),
    cand_{r} AS (
      SELECT word, i FROM (
        SELECT w.word, unnest(range(1, len(w.syms))) AS i, w.syms, x.a, x.b
        FROM words_{p} w CROSS JOIN best_{r} x)
      WHERE syms[i] = a AND syms[i + 1] = b
    ),
    taken_{r} AS (
      SELECT word, list(i) AS taken FROM (
        SELECT word, i, grp, MIN(i) OVER (PARTITION BY word, grp) AS run_start
        FROM (SELECT word, i,
                     i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
              FROM cand_{r}))
      WHERE (i - run_start) % 2 = 0
      GROUP BY word
    ),
    words_{r} AS MATERIALIZED (
      SELECT w.word, w.cnt,
             CASE WHEN t.taken IS NULL THEN w.syms ELSE
               list_filter(list_transform(range(1, len(w.syms) + 1),
                 i -> CASE WHEN list_contains(t.taken, i)
                             THEN w.syms[i] || w.syms[i + 1]
                           WHEN list_contains(t.taken, i - 1) THEN NULL
                           ELSE w.syms[i] END),
                 x -> x IS NOT NULL) END AS syms
      FROM words_{p} w LEFT JOIN taken_{r} t USING (word)
    )"""
        )
    return parts


def _bpe_oracle_sql(n_merges: int) -> str:
    """Training-report oracle: one (round, pair, symbols_after) row per
    merge from the shared unrolled chain."""
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS round, a AS left_sym, b AS right_sym,
           CAST(n AS BIGINT) AS pair_count, a || b AS merged,
           (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM words_{r})
             AS symbols_after
    FROM best_{r}"""
        for r in range(1, n_merges + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(_bpe_chain_parts(n_merges))
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    """Training chain (shared unroll, final CTE = fully-merged word
    table) + apply: every doc token joins ``words_N``, symbols get
    position weights and fold-hash ids, one rollup per doc."""
    chain = ",\n    ".join(_bpe_chain_parts(n_merges))
    return f"""WITH {chain},
    tokd AS (
      SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS wpos
      FROM (SELECT doc_id, {K.TOKENS_SQL} AS tl FROM documents)
    ),
    wt AS (
      SELECT doc_id, wpos, tl[wpos] AS word FROM tokd WHERE tl[wpos] <> ''
    ),
    enc AS (
      SELECT w.doc_id, w.wpos, e.syms
      FROM wt w JOIN words_{n_merges} e USING (word)
    ),
    symrows AS (
      SELECT doc_id, wpos, syms, unnest(range(1, len(syms) + 1)) AS spos
      FROM enc
    ),
    wordsum AS (
      SELECT doc_id, wpos, CAST(COUNT(*) AS BIGINT) AS n_syms,
             SUM((wpos * 131 + spos) * {K.char_fold_sql('syms[spos]')}) AS wterm
      FROM symrows GROUP BY doc_id, wpos
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(wterm % 1000000007) AS BIGINT) AS id_checksum
    FROM wordsum GROUP BY doc_id"""


@query("doc_bpe_train", oracle=_bpe_oracle_sql(6))
def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (operators/bpe.py), six merge
    rounds: one corpus pass builds the word histogram, then every round
    counts weighted adjacent symbol pairs, argmaxes under a total order
    (count desc, pair asc), and applies the merge greedily
    left-to-right within each word. ``symbols_after`` — the
    corpus-weighted symbol total after each round — certifies the merge
    was APPLIED (a trainer that picks the right pair but rewrites words
    wrong diverges immediately). The oracle unrolls all six rounds as
    chained materialized CTEs with the run-parity relational form of
    greedy non-overlapping matching, so two independent algorithm
    shapes (sequential fold vs. runs-and-parity) must agree exactly.

    Scale shape: the corpus shuffle happens once (word histogram);
    rounds run on |vocab| rows; merge rules come to the driver as
    k-row metadata and would be broadcast at apply time
    ([[doc_vocab_encode]] is the apply side)."""
    from ..operators.bpe import train_bpe, word_histogram

    d = t(spark, sf_dir, "documents")
    words = word_histogram(d, X.tokens(F.col("text")))
    return train_bpe(spark, words, n_merges=6)


def _bpe_fertility_oracle_sql(n_merges: int) -> str:
    """Training chain + apply + per-(lang, source) tokenizer metrics."""
    chain = ",\n    ".join(_bpe_chain_parts(n_merges))
    return f"""WITH {chain},
    tokd AS (
      SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS wpos
      FROM (SELECT doc_id, {K.TOKENS_SQL} AS tl FROM documents)
    ),
    wt AS (
      SELECT doc_id, tl[wpos] AS word FROM tokd WHERE tl[wpos] <> ''
    ),
    enc AS (
      SELECT w.doc_id, e.syms
      FROM wt w JOIN words_{n_merges} e USING (word)
    ),
    g1 AS (
      SELECT d.lang, d.source,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(e.syms)) AS BIGINT) AS n_bpe_tokens
      FROM enc e JOIN documents d ON e.doc_id = d.doc_id
      GROUP BY d.lang, d.source
    ),
    g2 AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes
      FROM documents GROUP BY lang, source
    )
    SELECT g2.lang, g2.source, n_docs, n_words, n_bpe_tokens, n_bytes,
           CAST(n_bpe_tokens AS DOUBLE) / n_words AS fertility,
           CAST(n_bytes AS DOUBLE) / n_bpe_tokens AS bytes_per_token
    FROM g1 JOIN g2 USING (lang, source)"""


@query("doc_tokenizer_fertility", oracle=_bpe_fertility_oracle_sql(6))
def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY EVAL — the report every tokenizer change is
    judged by: tokens-per-word (fertility) and bytes-per-token
    (compression) per (lang, source) slice, computed with the trained
    BPE ([[doc_bpe_train]]) applied through the distinct-word table
    ([[doc_bpe_encode]]'s discipline — per-word symbol counts join back
    to corpus tokens; no per-token Python). A fertility regression on
    one language slice is exactly how tokenizer bugs surface in
    production; both ratios are single float divisions of exact integer
    sums, so the report hashes identically in both engines.

    Scale shape: two map-side-combined aggregates over the token join
    and the raw docs, joined on the |lang×source|-row result."""
    from ..operators.bpe import (
        encode_words_with_merges,
        train_bpe,
        word_histogram,
    )

    d = t(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    # `words` feeds both the training loop and the encode side: the
    # checkpoint runs the corpus-wide histogram pass once, not twice
    words = word_histogram(d, toks).localCheckpoint(eager=True)
    merges_rows = train_bpe(spark, words, n_merges=6).orderBy("round").collect()
    merges = [(r["left_sym"], r["right_sym"]) for r in merges_rows]
    enc = encode_words_with_merges(words.select("word"), merges)
    wsum = enc.select("word", F.size("syms").cast("long").alias("_nsym"))
    wt = d.select(
        "doc_id", "lang", "source", F.explode(toks).alias("word")
    ).where(F.col("word") != "")
    g1 = (
        wt.join(wsum, "word")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_nsym").alias("n_bpe_tokens"),
        )
    )
    g2 = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
    )
    return g1.join(g2, ["lang", "source"]).select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_bytes",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
            "fertility"
        ),
        (F.col("n_bytes").cast("double") / F.col("n_bpe_tokens")).alias(
            "bytes_per_token"
        ),
    )


@query("doc_bpe_encode", oracle=_bpe_encode_oracle_sql(6))
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE WITH LEARNED MERGES — the apply half of the tokenizer
    loop every training pipeline runs ([[doc_bpe_train]] is the train
    half): the six learned merge rules replay over the DISTINCT-word
    table (``operators/bpe.encode_words_with_merges``), each word's
    symbol ids (portable char-fold hash) and position-weighted id sums
    reduce to three per-word scalars, and the corpus side is a plain
    equi-join + one rollup per doc — n_bpe_tokens and an exact
    position-weighted token-id checksum (weight = wpos·131 + spos, both
    1-based) that any mis-merge, mis-ordering, or dropped token flips.

    Scale shape: interpreted HOFs run ONCE per distinct word
    (vocab-sized, the [[doc_vocab_encode]] discipline); the corpus
    pass is posexplode → join (AQE broadcasts the vocab-sized encode
    table) → map-side-combined groupBy. The oracle replays training
    through the shared unrolled CTE chain and encodes against its
    final words table, so train AND apply must agree exactly."""
    from ..operators.bpe import (
        encode_words_with_merges,
        train_bpe,
        word_histogram,
    )

    d = t(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    # `words` feeds both the training loop and the encode side: the
    # checkpoint runs the corpus-wide histogram pass once, not twice
    words = word_histogram(d, toks).localCheckpoint(eager=True)
    merges_rows = train_bpe(spark, words, n_merges=6).orderBy("round").collect()
    merges = [(r["left_sym"], r["right_sym"]) for r in merges_rows]
    enc = encode_words_with_merges(words.select("word"), merges)
    ids = F.transform(F.col("syms"), lambda s: X.char_fold_hash(s))
    s1 = F.aggregate(ids, F.lit(0).cast("long"), lambda a, x: a + x)
    s2 = F.aggregate(
        F.transform(ids, lambda x, i: x * (i + 1).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    wsum = enc.select(
        "word",
        F.size("syms").cast("long").alias("_nsym"),
        s1.alias("_s1"),
        s2.alias("_s2"),
    )
    wt = d.select(
        "doc_id", F.posexplode(toks).alias("wpos", "word")
    ).where(F.col("word") != "")
    # checksum decomposes: Σ_w Σ_s (wpos·131 + spos)·id
    #                    = Σ_w [ wpos·131·S1(word) + S2(word) ]
    # Each per-WORD contribution is reduced mod 1e9+7 BEFORE the per-doc
    # sum (identically in the oracle): an unmodded sum is
    # ~2.8e11·n_tokens² and silently wraps Spark's non-ANSI int64 SUM
    # past ~6000 tokens/doc while DuckDB promotes to HUGEINT — the
    # exact cross-engine divergence class orders_target_encoding_loo
    # fixed. The per-word term itself stays < 2^63 for docs up to ~2M
    # tokens (wpos·131·S1 ≤ 1e6·131·15·2^31).
    wterm = (
        ((F.col("wpos") + 1) * 131).cast("long") * F.col("_s1")
        + F.col("_s2")
    ) % F.lit(1000000007).cast("long")
    return (
        wt.join(wsum, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("_nsym").cast("long").alias("n_bpe_tokens"),
            F.sum(wterm).cast("long").alias("id_checksum"),
        )
    )


def _lp_oracle_sql(n_rounds: int) -> str:
    """Unrolled synchronous label propagation over the rare-shingle
    blocking graph. MATERIALIZED on every round's label table — each is
    referenced by the next round's votes AND the final histogram."""
    head = f"""WITH sh AS ({K.shingles_sql('documents', 3)}),
    {K.rare_edges_sql('sh')},
    seeds AS (
      SELECT doc_id, least(2, len({K.TOKENS_SQL}) // 40) AS label
      FROM documents WHERE doc_id % 4 = 0
    ),
    labels_0 AS MATERIALIZED (
      SELECT d.doc_id, s.label
      FROM documents d LEFT JOIN seeds s USING (doc_id)
    )"""
    parts = [head]
    for r in range(1, n_rounds + 1):
        p = r - 1
        parts.append(
            f""",
    votes_{r} AS (
      SELECT e.dst AS doc_id, l.label, COUNT(*) AS n
      FROM edges e JOIN labels_{p} l ON l.doc_id = e.src
      WHERE l.label IS NOT NULL
      GROUP BY e.dst, l.label
    ),
    pick_{r} AS (
      SELECT doc_id, label FROM (
        SELECT doc_id, label,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, label)
                 AS rk
        FROM votes_{r}) WHERE rk = 1
    ),
    labels_{r} AS MATERIALIZED (
      SELECT t2.doc_id, COALESCE(s.label, p2.label) AS label
      FROM documents t2
      LEFT JOIN seeds s USING (doc_id)
      LEFT JOIN pick_{r} p2 USING (doc_id)
    )"""
        )
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS round, CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM labels_{r} GROUP BY label"""
        for r in range(1, n_rounds + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@query("doc_label_propagation", oracle=_lp_oracle_sql(3))
def doc_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised LABEL PROPAGATION through a document similarity
    graph — the mechanism that spreads sparse human quality labels
    across an unlabeled corpus. Edges come from rare-shingle blocking
    (two docs share a 3-token shingle that appears in 2-8 docs — the
    same bounded-block discipline as [[customer_fuzzy_match]]: frequent
    shingles would create quadratic blocks and are excluded). 25% of
    docs are seeds with a fixed 3-class label; three synchronous rounds
    give every node the majority label of its labeled neighbors
    (deterministic tie-break: count desc, label asc; seeds never
    change). Per-round class histograms are on the hash, so a
    propagation that mis-votes any round fails.

    Scale shape: the vote is one shuffle per round on the edge list
    (groupBy dst with map-side combine); per-round
    localCheckpoint truncates the iterative lineage (the connected-
    components lesson). The rare-shingle filter bounds block sizes, so
    |edges| = sum of small block squares, never corpus-quadratic."""
    d = t(spark, sf_dir, "documents")
    th = d.select(
        "doc_id", "text", F.size(X.tokens(F.col("text"))).alias("n_tok")
    )
    # the shingle rows feed the rare count and both join sides; the
    # checkpoint folds the corpus once (sf0.1, 4 cores, best of 4 in a
    # warm session: 1.40 s with it, 1.54 s without)
    sh = D.shingle_rows(th, "doc_id", "text", 3).distinct().localCheckpoint()
    edges = K.rare_shingle_edges(sh).persist()
    seeds = th.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.least(F.lit(2), (F.col("n_tok") / 40).cast("int")).alias("seeded")
    )
    nodes = th.select("doc_id")
    # `nodes ⋈ seeds` is loop-invariant: checkpointed once, so a round
    # is one vote shuffle and one join against the 2-column base, not a
    # re-read and re-tokenize of the corpus. The checkpoint is lazy: the
    # first round's histogram collect materializes it, one action fewer.
    # The loop runs under iterative_loop (shuffle partitions from the
    # measured edge count, AQE suspended for the fixed-shape rounds).
    base = nodes.join(seeds, "doc_id", "left").localCheckpoint(eager=False)
    labels = base.select("doc_id", F.col("seeded").alias("label"))
    out = []
    try:
        n_edges = edges.count()  # materializes the persisted edge set
        with iterative_loop(spark, n_edges):
            for rnd in range(1, 4):
                # the label domain is closed over {0,1,2} (seeds are
                # least(2, n_tok//40) >= 0 and votes only replay seed-
                # descended labels), so the majority vote is one
                # map-side-combinable groupBy(dst) with three
                # conditional counts, not groupBy(dst,label) plus a
                # row_number window (a second exchange and a sort per
                # round). Tie-break (count desc, label asc) is the
                # when-chain's >= order.
                joined = edges.join(
                    labels.filter(F.col("label").isNotNull()).withColumnRenamed(
                        "doc_id", "src"
                    ),
                    "src",
                )
                n0, n1, n2 = (
                    F.count(F.when(F.col("label") == lab, 1)).alias(f"_n{lab}")
                    for lab in (0, 1, 2)
                )
                pick = (
                    joined.groupBy("dst")
                    .agg(n0, n1, n2)
                    .select(
                        F.col("dst").alias("doc_id"),
                        F.when(
                            (F.col("_n0") >= F.col("_n1"))
                            & (F.col("_n0") >= F.col("_n2")),
                            F.lit(0),
                        )
                        .when(F.col("_n1") >= F.col("_n2"), F.lit(1))
                        .otherwise(F.lit(2))
                        .alias("voted"),
                    )
                )
                nxt = (
                    base.join(pick, "doc_id", "left")
                    .select(
                        "doc_id",
                        F.coalesce("seeded", "voted").alias("label"),
                    )
                    # LAZY checkpoint: the histogram collect below
                    # materializes it as a side effect — one action per
                    # round instead of two (the BPE merge-round lesson).
                    # The prior round's blocks are freed only AFTER that
                    # materialization (localCheckpoint blocks cannot be
                    # recomputed once freed).
                    .localCheckpoint(eager=False)
                )
                prev = labels
                labels = nxt
                hist = (
                    labels.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
                )
                if rnd > 1:
                    prev.unpersist()
                for row in hist:
                    out.append(
                        (
                            rnd,
                            None if row["label"] is None else int(row["label"]),
                            int(row["n"]),
                        )
                    )
    finally:
        edges.unpersist()
        sh.unpersist()
        labels.unpersist()
        base.unpersist()
    return spark.createDataFrame(out, "round int, label int, n_nodes long")


@query(
    "doc_kneser_ney_lm",
    oracle=f"""
    WITH toks AS (
      SELECT {K.TOKENS_SQL} AS tk FROM documents
    ),
    bigrams AS (
      SELECT u.a AS v, u.b AS w, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> struct_pack(a := tk[i], b := tk[i + 1]))) AS u
        FROM toks WHERE len(tk) >= 2)
      GROUP BY 1, 2
    ),
    ctx AS (
      SELECT v, SUM(c) AS cv, COUNT(*) AS n1v FROM bigrams GROUP BY v
    ),
    cont AS (
      SELECT w, COUNT(*) AS contw FROM bigrams GROUP BY w
    ),
    n1all AS (SELECT COUNT(*) AS n1a FROM bigrams),
    top_ctx AS (
      SELECT v, cv, n1v FROM ctx
      ORDER BY cv DESC, v LIMIT 5
    ),
    scored AS (
      SELECT t.v, b.w,
             ((4 * b.c - 3) * x.n1a + 3 * t.n1v * co.contw) * 1000000
               // (4 * t.cv * x.n1a) AS score_micro
      FROM top_ctx t
      JOIN bigrams b ON b.v = t.v
      JOIN cont co ON co.w = b.w
      CROSS JOIN n1all x
    )
    SELECT v AS context_word, w AS next_word,
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT v, w, score_micro,
             ROW_NUMBER() OVER (PARTITION BY v
                                ORDER BY score_micro DESC, w) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
)
def doc_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a KNESER-NEY smoothed bigram language model in-engine and
    read out its top-3 next-word predictions for the five most frequent
    context words. The classic formulation
    ``P(w|v) = max(c(v,w)-d, 0)/c(v) + d·N1+(v,·)/c(v) · N1+(·,w)/N1+(··)``
    with d = 3/4 collapses to ONE exact rational
    ``[(4c-3)·N1a + 3·N1v·contw] / (4·cv·N1a)`` — so the whole model
    (absolute discounting AND the continuation-probability backoff that
    distinguishes KN from plain discounting) is integer arithmetic,
    floored to micro-units identically in both engines. Extends
    [[doc_charlm_score]] (char-bigram scorer) to word-level TRAINING
    with the smoothing real LM pipelines used pre-neural — and the
    continuation counts are the same corpus statistics DSIR-style
    selection reuses.

    Scale shape: bigram counts build in one codegen projection + one
    map-side-combined shuffle on the pair (|bigram vocab| rows out);
    context/continuation marginals are two tiny reaggregations of that
    table; scoring touches only the 5 chosen contexts' rows. Nothing
    rescans the corpus."""
    d = t(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    bigrams = (
        d.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.struct(
                        F.col("tk")[i].alias("v"),
                        F.col("tk")[i + 1].alias("w"),
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.v", "p.w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    try:
        ctx = bigrams.groupBy("v").agg(
            F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1v")
        )
        cont = bigrams.groupBy("w").agg(F.count(F.lit(1)).alias("contw"))
        n1a = bigrams.count()
        top_ctx = ctx.orderBy(F.desc("cv"), F.asc("v")).limit(5)
        scored = (
            F.broadcast(top_ctx)
            .join(bigrams, "v")
            .join(cont, "w")
            .select(
                "v",
                "w",
                (
                    (
                        (4 * F.col("c") - 3) * F.lit(n1a)
                        + 3 * F.col("n1v") * F.col("contw")
                    )
                    * F.lit(1000000)
                ).cast("long")
                .alias("num"),
                (4 * F.col("cv") * F.lit(n1a)).cast("long").alias("den"),
            )
            .select(
                "v", "w", F.expr("num div den").alias("score_micro")
            )
        )
        from pyspark.sql import Window as W

        out = (
            scored.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("v").orderBy(
                        F.desc("score_micro"), F.asc("w")
                    )
                ),
            )
            .filter(F.col("rk") <= 3)
            .select(
                F.col("v").alias("context_word"),
                F.col("w").alias("next_word"),
                "score_micro",
                F.col("rk").cast("int").alias("rk"),
            )
        )
        out = out.localCheckpoint(eager=True)
    finally:
        bigrams.unpersist()
    return out


def _eig_oracle_sql(n_iters: int) -> str:
    """Unrolled integer power iteration on the symmetrized bigram
    count matrix; sup-norm normalization by truncating division."""
    head = f"""WITH toks AS (
      SELECT {K.TOKENS_SQL} AS tk FROM documents
    ),
    bi AS (
      SELECT u.a AS v, u.b AS w, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> struct_pack(a := tk[i], b := tk[i + 1]))) AS u
        FROM toks WHERE len(tk) >= 2)
      GROUP BY 1, 2
    ),
    m AS MATERIALIZED (
      SELECT v, w, SUM(c) AS c FROM (
        SELECT v, w, c FROM bi
        UNION ALL
        SELECT w, v, c FROM bi)
      GROUP BY v, w
    ),
    x0 AS (SELECT DISTINCT v AS w, CAST(10000 AS BIGINT) AS x FROM m)"""
    parts = [head]
    for r in range(1, n_iters + 1):
        p = r - 1
        parts.append(
            f""",
    y{r} AS (
      SELECT m.v AS w, SUM(m.c * x.x) AS y
      FROM m JOIN x{p} x ON x.w = m.w
      GROUP BY m.v
    ),
    x{r} AS MATERIALIZED (
      SELECT w, y * 10000 // (SELECT MAX(ABS(y)) FROM y{r}) AS x FROM y{r}
    )"""
        )
    parts.append(
        f"""
    SELECT w AS word, CAST(x AS BIGINT) AS centrality_scaled,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT w, x, ROW_NUMBER() OVER (ORDER BY x DESC, w) AS rk
          FROM x{n_iters})
    WHERE rk <= 10"""
    )
    return "".join(parts)


@query("doc_word_eigencentrality", oracle=_eig_oracle_sql(4))
def doc_word_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGENVECTOR CENTRALITY of the word co-occurrence graph — the
    spectral complement to [[nations_trade_pagerank]]: four rounds of
    power iteration on the symmetrized bigram count matrix, entirely in
    integers (matrix-vector product = one join + map-side-combined sum;
    sup-norm normalization = multiply by 1e4 then truncating-divide by
    the round's max|y|, identical in both engines). The top-10
    components after four rounds are on the hash — power iteration
    converges fast on a graph with a dominant hub, so round-4 already
    separates the head decisively; this is the dominant direction of
    the same co-occurrence statistics [[doc_pmi_cooccurrence]] reads
    pairwise.

    Scale shape: the matrix lives as (v, w, c) triples — each round is
    one equi-join of the triple table to the |vocab|-sized vector and
    one grouped sum, the standard distributed SpMV; the global MAX is
    a 1-row broadcast. No driver state beyond the loop counter."""
    d = t(spark, sf_dir, "documents")
    tk = X.tokens(F.col("text"))
    bi = (
        d.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.struct(
                        F.col("tk")[i].alias("v"),
                        F.col("tk")[i + 1].alias("w"),
                    ),
                )
            ).alias("p")
        )
        .groupBy("p.v", "p.w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = (
        bi.select("v", "w", "c")
        .unionAll(bi.select(F.col("w").alias("v"), F.col("v").alias("w"), "c"))
        .groupBy("v", "w")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=True)
    )
    x = m.select("w").distinct().select(
        "w", F.lit(10000).cast("long").alias("x")
    ).localCheckpoint(eager=True)
    for _ in range(4):
        y = (
            m.join(x, "w")
            .groupBy(F.col("v").alias("w"))
            .agg(F.sum(F.col("c") * F.col("x")).alias("y"))
        )
        mx = y.agg(F.max(F.abs(F.col("y"))).alias("mx"))
        x = (
            y.crossJoin(F.broadcast(mx))
            .selectExpr("w", "y * 10000 div mx AS x")
            .localCheckpoint(eager=True)
        )
    from pyspark.sql import Window as W

    return (
        x.withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("x"), F.asc("w")))
        )
        .filter(F.col("rk") <= 10)
        .select(
            F.col("w").alias("word"),
            F.col("x").cast("long").alias("centrality_scaled"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def _mis_oracle_sql(n_rounds: int) -> str:
    """Unrolled deterministic-Luby MIS over the rare-shingle graph:
    per round, an active node enters the set iff its md5 round
    priority beats every ACTIVE neighbor's; winners and their
    neighbors deactivate."""
    head = f"""WITH sh AS ({K.shingles_sql('documents', 3)}),
    {K.rare_edges_sql('sh')},
    act_0 AS (SELECT doc_id FROM documents)"""
    parts = [head]
    for r in range(1, n_rounds + 1):
        p = r - 1
        pri = SQL_MD5_INT(f"CAST(doc_id AS VARCHAR) || ':{r}'", 8)
        parts.append(
            f""",
    pri_{r} AS MATERIALIZED (
      SELECT doc_id, {pri} AS p FROM act_{p}
    ),
    nbr_{r} AS (
      SELECT e.src AS doc_id, MIN(q.p) AS mn
      FROM edges e
      JOIN pri_{r} q ON q.doc_id = e.dst
      JOIN pri_{r} s ON s.doc_id = e.src
      GROUP BY e.src
    ),
    add_{r} AS MATERIALIZED (
      SELECT p2.doc_id FROM pri_{r} p2 LEFT JOIN nbr_{r} n USING (doc_id)
      WHERE n.mn IS NULL OR p2.p < n.mn
    ),
    act_{r} AS MATERIALIZED (
      SELECT a.doc_id FROM act_{p} a
      WHERE NOT EXISTS (SELECT 1 FROM add_{r} m WHERE m.doc_id = a.doc_id)
        AND NOT EXISTS (SELECT 1 FROM edges e JOIN add_{r} m ON m.doc_id = e.src
                        WHERE e.dst = a.doc_id)
    )"""
        )
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS round,
           CAST(COUNT(*) AS BIGINT) AS n_added,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_sum
    FROM add_{r}"""
        for r in range(1, n_rounds + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@query("doc_diverse_subset_mis", oracle=_mis_oracle_sql(4))
def doc_diverse_subset_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY-MAXIMAL SUBSET SELECTION as a maximal independent set
    on the near-duplicate graph — pick documents such that NO TWO
    selected docs share a rare shingle, and no further doc can be
    added: the corpus-curation dual of dedup clustering (keep one of
    everything, maximally). Computed with Luby's parallel MIS made
    DETERMINISTIC: round priorities are md5(doc_id:round) (the
    affine-hash lesson — arithmetic priorities correlate across
    rounds), a node joins when it beats every ACTIVE neighbor, winners
    + neighbors deactivate. Per-round additions and their id-sums are
    on the hash, so both engines must select the identical set in the
    identical rounds.

    Scale shape per round: priority assignment is a projection; the
    neighbor-min is one shuffle of the edge list; deactivation is two
    anti-joins. O(log n) rounds with high probability — four saturate
    this graph; localCheckpoint truncates the loop lineage."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = D.shingle_rows(d, "doc_id", "text", 3).distinct()
    edges = K.rare_shingle_edges(sh).localCheckpoint(eager=True)
    act = d.select("doc_id").localCheckpoint(eager=True)
    rows = []
    for rnd in range(1, 5):
        pri = act.select(
            "doc_id",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(f":{rnd}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("p"),
        ).localCheckpoint(eager=True)
        nbr = (
            edges.join(
                pri.withColumnRenamed("doc_id", "dst").withColumnRenamed(
                    "p", "pd"
                ),
                "dst",
            )
            .join(pri.withColumnRenamed("doc_id", "src").select("src"), "src")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("pd").alias("mn"))
        )
        add = (
            pri.join(nbr, "doc_id", "left")
            .filter(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        stat = add.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("s"),
        ).collect()[0]
        rows.append((rnd, int(stat["n"]), int(stat["s"])))
        kill = add.unionAll(
            edges.join(add.withColumnRenamed("doc_id", "src"), "src").select(
                F.col("dst").alias("doc_id")
            )
        ).distinct()
        act = act.join(kill, "doc_id", "left_anti").localCheckpoint(eager=True)
    return spark.createDataFrame(rows, "round int, n_added long, id_sum long")


def _kcore_oracle_sql(k: int, n_rounds: int) -> str:
    """Unrolled k-core peeling over the rare-shingle graph: each round
    drops nodes whose degree among SURVIVORS is < k."""
    head = f"""WITH sh AS ({K.shingles_sql('documents', 3)}),
    {K.rare_edges_sql('sh')},
    alive_0 AS (SELECT DISTINCT src AS doc_id FROM edges)"""
    parts = [head]
    for r in range(1, n_rounds + 1):
        p = r - 1
        parts.append(
            f""",
    alive_{r} AS MATERIALIZED (
      SELECT e.src AS doc_id
      FROM edges e
      JOIN alive_{p} a ON a.doc_id = e.src
      JOIN alive_{p} b ON b.doc_id = e.dst
      GROUP BY e.src
      HAVING COUNT(*) >= {k}
    )"""
        )
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS round,
           CAST(COUNT(*) AS BIGINT) AS n_alive,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_sum
    FROM alive_{r}"""
        for r in range(1, n_rounds + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@query("doc_kcore_decomposition", oracle=_kcore_oracle_sql(30, 5))
def doc_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (k=30) of the document similarity graph —
    the dense-subgraph detector behind spam-farm and boilerplate-
    cluster discovery: iteratively peel every node with fewer than 12
    surviving neighbors until the remainder stabilizes; what survives
    is the maximal subgraph of minimum degree 12, i.e. the tightly
    inter-duplicated core the curation pipeline should inspect as a
    group rather than pairwise. Four unrolled peeling rounds (this
    graph stabilizes in three); per-round survivor counts and id-sums
    are on the hash, so the exact peel ORDER-INDEPENDENCE property of
    k-core (unlike greedy matching, the result is unique regardless of
    peel order) is what makes it oracle-checkable at all.

    Scale shape per round: one self-restricted degree count (edge list
    joined to the survivor set on both endpoints, map-side-combined
    HAVING) — the standard distributed peel; localCheckpoint truncates
    the loop."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = D.shingle_rows(d, "doc_id", "text", 3).distinct()
    edges = K.rare_shingle_edges(sh).localCheckpoint(eager=True)
    alive = edges.select(F.col("src").alias("doc_id")).distinct().localCheckpoint(
        eager=True
    )
    rows = []
    for rnd in range(1, 6):
        nxt = (
            edges.join(alive.withColumnRenamed("doc_id", "src"), "src")
            .join(alive.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 30)
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        alive.unpersist()
        alive = nxt
        stat = alive.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("s"),
        ).collect()[0]
        rows.append((rnd, int(stat["n"]), int(stat["s"])))
    alive.unpersist()
    return spark.createDataFrame(rows, "round int, n_alive long, id_sum long")


@query(
    "doc_rake_keyphrases",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tk[i] AS token, i AS pos FROM (
        SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
        FROM (SELECT doc_id, {K.TOKENS_SQL} AS tk FROM documents))
    ),
    nonstop AS (
      SELECT doc_id, token, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tok
      WHERE token NOT IN ('the', 'and', 'of', 'to', 'is') AND token <> ''
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(token, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS n_words
      FROM nonstop GROUP BY doc_id, grp
      HAVING COUNT(*) <= 8
    ),
    word_stats AS (
      SELECT token,
             COUNT(*) AS freq,
             CAST(SUM(n_words) AS BIGINT) AS degree
      FROM nonstop n JOIN phrases p
        ON p.doc_id = n.doc_id AND p.grp = n.grp
      GROUP BY token
    ),
    phrase_scores AS (
      SELECT p.phrase, MAX(p.n_words) AS n_words,
             COUNT(*) AS n_occurrences,
             (SELECT CAST(SUM((w.degree * 1000000) // w.freq) AS BIGINT)
              FROM (SELECT unnest(string_split(p.phrase, ' ')) AS tk) s
              JOIN word_stats w ON w.token = s.tk) AS score_micro
      FROM phrases p
      GROUP BY p.phrase
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           score_micro, CAST(rk AS INTEGER) AS rk
    FROM (SELECT phrase, n_words, n_occurrences, score_micro,
                 ROW_NUMBER() OVER (ORDER BY score_micro DESC, phrase) AS rk
          FROM phrase_scores)
    WHERE rk <= 10
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE KEYPHRASE EXTRACTION (Rose et al. 2010) — candidate phrases
    are maximal runs of non-stopword tokens capped at 8 words (pure
    gaps-and-islands over token positions — segmentation shares the
    engine's one tokenizer, no second regex to keep in parity), each word scores
    degree/frequency (degree = total words of every phrase containing
    it — co-occurrence credit; frequency = occurrences), and a phrase
    scores the sum of its words' scores. Word scores floor to
    micro-units BEFORE the phrase sum so both engines add identical
    integers. Top-10 phrases under a total order, with occurrence
    counts — multi-word phrases outrank bare frequent words, which is
    RAKE's point.

    Scale shape: posexplode -> one shuffle to (doc, island) phrases ->
    word stats as a map-side-combined reaggregation -> phrase scoring
    joins the |vocab|-sized stats table back; TakeOrdered(10)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos0", "token"),
    ).select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))
    from pyspark.sql import Window as W

    STOP = ["the", "and", "of", "to", "is"]
    nonstop = (
        tok.filter(~F.col("token").isin(STOP))
        .filter(F.col("token") != "")
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        )
    )
    phrases = (
        nonstop.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") <= 8)  # RAKE's standard candidate cap
    )
    word_stats = (
        nonstop.join(phrases, ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
        .withColumn("wscore", F.expr("(degree * 1000000) div freq"))
    )
    phrase_occ = phrases.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    exploded = phrase_occ.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("token")
    )
    scores = (
        exploded.join(word_stats.select("token", "wscore"), "token")
        .groupBy("phrase")
        .agg(F.sum("wscore").alias("score_micro"))
    )
    ranked = (
        phrase_occ.join(scores, "phrase")
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.desc("score_micro"), F.asc("phrase"))),
        )
        .filter(F.col("rk") <= 10)
    )
    return ranked.select(
        "phrase",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("score_micro").cast("long").alias("score_micro"),
        F.col("rk").cast("int").alias("rk"),
    )


#: exact UTF-8 byte sum of one character from its code point (the
#: Spark side sums REAL payload bytes, so the oracle must sum encoded
#: bytes, not code points — they differ beyond ASCII)
_UTF8_BYTE_SUM = """
  CASE WHEN ascii(c) < 128 THEN ascii(c)
       WHEN ascii(c) < 2048
         THEN (192 + ascii(c) // 64) + (128 + ascii(c) % 64)
       WHEN ascii(c) < 65536
         THEN (224 + ascii(c) // 4096) + (128 + (ascii(c) // 64) % 64)
            + (128 + ascii(c) % 64)
       ELSE (240 + ascii(c) // 262144) + (128 + (ascii(c) // 4096) % 64)
          + (128 + (ascii(c) // 64) % 64) + (128 + ascii(c) % 64) END
"""


@query(
    "doc_warc_roundtrip",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(2 AS INTEGER) AS n_records,
           'http://example.com/' || doc_id AS uri,
           CAST(37 + length(CAST(doc_id AS VARCHAR)) AS INTEGER) AS req_len,
           CAST(octet_length(encode(text)) AS BIGINT) AS resp_len,
           CAST(list_sum(list_transform(string_split(text, ''),
                c -> {_UTF8_BYTE_SUM})) AS BIGINT) AS resp_byte_sum
    FROM documents
    """,
)
def doc_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) ROUND TRIP — the container CommonCrawl ships
    and every web-corpus pipeline ingests, implemented dependency-free
    (``operators/warc.py``): each document encodes into a spec-shaped
    request/response record pair (version line, WARC-Type /
    Record-ID / Target-URI headers, Content-Length framing, CRLF
    record terminators) and the reader WALKS the framing — header
    block parse, exact Content-Length slice, terminator check — so an
    off-by-one anywhere raises instead of drifting. The oracle replays
    record count, URI, the id-width-dependent request length (pins
    that the parser really measured the request body), and the exact
    response byte sum from the document text.

    Scale shape: embarrassingly parallel mapInPandas, hash-partitioned
    on the id like every media adapter; at 100 TB real WARC files
    split by byte ranges resynced at record boundaries — the
    [[orders_avro_roundtrip]] split contract with ``WARC/1.0`` as the
    sync token."""
    from ..operators import warc as W

    media = W.documents_as_warc(t(spark, sf_dir, "documents"))
    return W.parse_warc_features(media)


@query(
    "corpus_ccnet_buckets",
    oracle=f"""
    WITH {K.charlm_scores_sql()},
    tiled AS (
      SELECT d.lang, sc.doc_id, sc.n_bigrams, sc.sum_logp_unats,
             ntile(3) OVER (PARTITION BY d.lang
               ORDER BY CAST(sc.sum_logp_unats AS DOUBLE)
                        / (1000000 * sc.n_bigrams) DESC,
                        sc.doc_id) AS tile
      FROM lm_scores sc JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(SUM(sum_logp_unats) AS BIGINT) AS sum_logp_unats,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
    FROM tiled GROUP BY lang, tile
    """,
)
def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNET HEAD/MIDDLE/TAIL BUCKETING — the exact recipe CCNet (and
    the pipelines built on it) uses to stratify a crawl: score every
    document with the in-engine LM ([[doc_charlm_score]]'s exact
    integer micro-nat totals, shared via ``text_kit.charlm_scores``), then
    split EACH LANGUAGE into perplexity terciles — head (most fluent)
    / middle / tail — so downstream mixing can oversample head and
    drop or audit tail. The per-language ntile runs over the average
    log-likelihood (one double division per doc, identical in both
    engines, doc_id tie-break) and each (lang, bucket) reports doc
    and bigram mass plus its first doc id.

    Scale shape: scoring is the broadcast-model join + one doc rollup;
    the tercile is one window per language partition (at 100 TB:
    approx-quantile boundaries per language + a broadcast range join —
    [[orders_quantile_sketch]]'s pattern — instead of a full sort).
    Documents shorter than one bigram carry no LM evidence and stay
    out of the buckets."""
    d = t(spark, sf_dir, "documents")
    scores = K.charlm_scores(d)
    d = d.select("doc_id", "lang")
    avg = F.col("sum_logp_unats").cast("double") / (
        1000000 * F.col("n_bigrams")
    )
    tiled = (
        scores.join(d, "doc_id")
        .withColumn(
            "tile",
            F.ntile(3).over(
                Window.partitionBy("lang").orderBy(
                    avg.desc(), F.col("doc_id")
                )
            ),
        )
    )
    return tiled.groupBy(
        "lang",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.sum("sum_logp_unats").cast("long").alias("sum_logp_unats"),
        F.min("doc_id").cast("long").alias("first_doc_id"),
    )


@query(
    "corpus_dataset_card",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({K.TOKENS_SQL}) AS BIGINT) AS n_tokens,
             {K.FINGERPRINT_SQL} AS fp
      FROM documents
    )
    SELECT 'size' AS section, 'n_docs' AS metric, 'all' AS slice,
           CAST(COUNT(*) AS BIGINT) AS value FROM tok
    UNION ALL
    SELECT 'size', 'n_tokens', 'all', CAST(SUM(n_tokens) AS BIGINT) FROM tok
    UNION ALL
    SELECT 'size', 'n_chars', 'all', CAST(SUM(n_chars) AS BIGINT) FROM tok
    UNION ALL
    SELECT 'size', 'n_unique_texts', 'all',
           CAST(COUNT(DISTINCT fp) AS BIGINT) FROM tok
    UNION ALL
    SELECT 'length', 'min_tokens', 'all', CAST(MIN(n_tokens) AS BIGINT)
    FROM tok
    UNION ALL
    SELECT 'length', 'max_tokens', 'all', CAST(MAX(n_tokens) AS BIGINT)
    FROM tok
    UNION ALL
    SELECT 'by_lang', 'n_docs', lang, CAST(COUNT(*) AS BIGINT)
    FROM tok GROUP BY lang
    UNION ALL
    SELECT 'by_lang', 'n_tokens', lang, CAST(SUM(n_tokens) AS BIGINT)
    FROM tok GROUP BY lang
    UNION ALL
    SELECT 'by_source', 'n_docs', source, CAST(COUNT(*) AS BIGINT)
    FROM tok GROUP BY source
    """,
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE DATASET CARD — the per-release summary artifact every corpus
    ships (sizes, uniqueness, length bounds, per-language and
    per-source composition) as ONE long-format report
    (section / metric / slice / value): global doc, token, char, and
    UNIQUE-normalized-text counts (the headline dedup number), token
    length bounds, and the lang/source composition tables a consumer
    reads before mixing. Long format keeps the schema stable as
    sections grow — the dashboard-feed shape
    ([[monitoring_entity_summary]]'s contract, applied to the corpus).

    Determinism: every value is an exact integer (counts, sums, md5
    distinct); no averages, so no division anywhere. Scale shape: ONE
    pass computes all per-doc stats, then each section is a
    map-side-combined aggregate over it. The per-doc stats table is
    lazily localCheckpoint-ed (GC-collectable blocks, not a leaked
    cache — the no-leaked-cache harness invariant stays green), so the
    tokenize+md5 corpus pass runs ONCE and every section leg is a
    cheap rollup instead of one shared-scan evaluation per section (9
    scans in the built plan)."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fp"),
    ).localCheckpoint(eager=False)

    def row(section: str, metric: str, slice_col, value):
        return tok.agg(value.alias("value")).select(
            F.lit(section).alias("section"),
            F.lit(metric).alias("metric"),
            F.lit(slice_col).alias("slice"),
            "value",
        )

    legs = [
        row("size", "n_docs", "all", F.count(F.lit(1)).cast("long")),
        row("size", "n_tokens", "all", F.sum("n_tokens").cast("long")),
        row("size", "n_chars", "all", F.sum("n_chars").cast("long")),
        row(
            "size",
            "n_unique_texts",
            "all",
            F.countDistinct("fp").cast("long"),
        ),
        row("length", "min_tokens", "all", F.min("n_tokens").cast("long")),
        row("length", "max_tokens", "all", F.max("n_tokens").cast("long")),
        tok.groupBy(F.col("lang").alias("slice")).agg(
            F.count(F.lit(1)).cast("long").alias("value")
        ).select(
            F.lit("by_lang").alias("section"),
            F.lit("n_docs").alias("metric"),
            "slice",
            "value",
        ),
        tok.groupBy(F.col("lang").alias("slice")).agg(
            F.sum("n_tokens").cast("long").alias("value")
        ).select(
            F.lit("by_lang").alias("section"),
            F.lit("n_tokens").alias("metric"),
            "slice",
            "value",
        ),
        tok.groupBy(F.col("source").alias("slice")).agg(
            F.count(F.lit(1)).cast("long").alias("value")
        ).select(
            F.lit("by_source").alias("section"),
            F.lit("n_docs").alias("metric"),
            "slice",
            "value",
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Curriculum phases: global difficulty quartiles without a global sort
# ---------------------------------------------------------------------------


@query(
    "corpus_curriculum_phases",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars, lang,
             ntile(4) OVER (ORDER BY n_chars, doc_id) AS phase
      FROM documents
    )
    SELECT CAST(phase AS INT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM ranked
    GROUP BY phase
    """,
)
def corpus_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: split the corpus into 4
    difficulty quartiles (difficulty = document length, the standard
    first-pass proxy) and profile each phase — the ordering step of an
    easy-to-hard pretraining schedule. Semantics are exactly SQL
    NTILE(4) OVER (ORDER BY n_chars, doc_id), but implemented WITHOUT
    a global sort: a global ORDER BY window collapses to one task at
    100 TB, so the global rank is decomposed as

        rank(doc) = #docs with smaller n_chars   (histogram cumsum)
                  + row_number within its n_chars (partitioned window)

    The histogram groupBy runs over the bounded DISTINCT-length domain
    (its cumsum window orders thousands of rows, not the corpus), the
    per-length row_number is partitioned by n_chars, and NTILE's
    first-buckets-get-the-remainder split is reproduced arithmetically
    from (rank, total). One corpus scan, two small shuffles, no
    single-task stage."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "n_chars", F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("below")
    )
    n_total = int(docs.count())  # bounded driver-side scalar (row count)
    k = 4
    size_big = (n_total + k - 1) // k  # first (n % k) buckets get this
    n_big = n_total % k
    cut = n_big * size_big
    size_small = max(n_total // k, 1)
    wr = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = (
        docs.join(F.broadcast(cum), "n_chars")
        .withColumn(
            "grank", F.col("below") + F.row_number().over(wr).cast("long")
        )
        .withColumn(
            "phase",
            (
                F.floor(
                    F.when(
                        F.col("grank") <= F.lit(cut),
                        (F.col("grank") - 1) / F.lit(size_big),
                    ).otherwise(
                        F.lit(n_big) + (F.col("grank") - 1 - F.lit(cut)) / F.lit(size_small)
                    )
                )
                + 1
            ).cast("int"),
        )
    )
    return ranked.groupBy("phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        (
            F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_chars"),
        F.count_distinct(F.col("lang")).cast("long").alias("n_langs"),
    )
