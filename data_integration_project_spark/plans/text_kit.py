"""Text kit: the tokenizer, corpus, shingle, near-duplicate, blocking-graph,
Naive-Bayes and char-LM pieces the text and dedup queries share, each
written once in PySpark next to its DuckDB SQL twin.

Users: ``dedup_q``, ``corpus_q``, ``textops_q``, ``similarity_q`` and
``quality_q``.

* Tokenizer: ``functions.text.tokens`` / :data:`TOKENS_SQL`; per-token
  char-fold hashes ``functions.text.token_hash_array`` /
  :data:`TOKEN_HASHES_SQL` (one token: :func:`char_fold_sql`).
* Planted-copies corpus: :func:`variant_corpus` /
  :func:`variant_corpus_sql`.
* k-token shingle hashes: ``operators.dedup.shingle_rows`` /
  :func:`shingles_sql`.
* MinHash signature → band bucket → candidates → Jaccard verify:
  :func:`near_dup_pairs` / :func:`near_dup_sql`, built from
  :func:`buckets_sql`, :func:`candidates_sql` and :func:`verified_sql`.
* Rare-shingle blocking graph: :func:`rare_shingle_edges` /
  :func:`rare_edges_sql`.
* Naive-Bayes language scores: :func:`nb_scores` / :func:`nb_scores_sql`.
* Char-bigram LM document totals: :func:`charlm_scores` /
  :func:`charlm_scores_sql`.

Tokenizer domain. Both engines trim spaces, lower-case and split on runs
of ``[ \\t\\n\\x0B\\f\\r]``, which is Java's ``\\s``. RE2's ``\\s`` leaves
out the vertical tab, so the SQL twin spells the class out. The engines
agree wherever lower-casing maps one code point to one code point
without context. They differ where Java's full case mapping does not: a
word-final capital sigma lowers to ``ς`` in Spark and ``σ`` in DuckDB,
and ``İ`` lowers to ``i̇`` (two code points) in Spark and ``i`` in
DuckDB. The catalog's documents hold neither letter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import dedup as D

# ---------------------------------------------------------------------------
# Tokenizer and portable hashes
# ---------------------------------------------------------------------------

#: SQL twin of ``functions.text.tokens`` over the ``text`` column.
TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')"

#: SQL twin of ``functions.text.fingerprint_md5`` over the ``text`` column.
FINGERPRINT_SQL = "md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"


def char_fold_sql(s: str) -> str:
    """SQL twin of ``functions.text.char_fold_hash`` over string ``s``."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        "(acc, c) -> (acc * 31 + c) % 2147483647)"
    )


#: SQL twin of ``functions.text.token_hash_array`` over ``text``.
TOKEN_HASHES_SQL = f"list_transform({TOKENS_SQL}, t -> {char_fold_sql('t')})"

# ---------------------------------------------------------------------------
# Planted-copies corpus
# ---------------------------------------------------------------------------

#: (condition, id offset, text) per output row of an input document. The
#: condition (None: always) and the text are SQL expressions over
#: ``doc_id`` and ``text`` that both engines read.
Variant = tuple[str | None, int, str]


def variant_corpus(
    docs: DataFrame, variants: Sequence[Variant], where: str | None = None
) -> DataFrame:
    """(doc_id, text) rows: each document of ``docs`` that passes
    ``where`` yields one row per variant whose condition holds, under
    ``doc_id + offset``. One scan emits every variant as a conditional
    array and an explode, so a corpus with planted copies costs one read
    of the table, not one per variant."""
    if where is not None:
        docs = docs.filter(F.expr(where))
    empty = F.array().cast("array<struct<doc_id:bigint,text:string>>")

    def arm(cond: str | None, offset: int, text: str):
        row = F.array(
            F.struct(
                (F.col("doc_id") + offset).alias("doc_id"), F.expr(text).alias("text")
            )
        )
        return row if cond is None else F.when(F.expr(cond), row).otherwise(empty)

    rows = F.concat(*(arm(*v) for v in variants))
    return docs.select(F.explode(rows).alias("_r")).select("_r.doc_id", "_r.text")


def variant_corpus_sql(
    variants: Sequence[Variant], where: str | None = None, src: str = "documents"
) -> str:
    """``corpus AS (...)``: SQL twin of :func:`variant_corpus` over
    table ``src``, one ``UNION ALL`` arm per variant."""
    arms = []
    for cond, offset, text in variants:
        conds = " AND ".join(c for c in (where, cond) if c)
        arms.append(
            f"SELECT doc_id + {offset} AS doc_id, {text} AS text FROM {src}"
            + (f" WHERE {conds}" if conds else "")
        )
    return "corpus AS (\n      " + "\n      UNION ALL\n      ".join(arms) + "\n    )"


# ---------------------------------------------------------------------------
# Shingles, MinHash/LSH candidates, exact-Jaccard verify
# ---------------------------------------------------------------------------

N_HASHES, N_BANDS, ROWS_PER_BAND = 16, 4, 4
_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.hash_params(N_HASHES))
)


def shingles_sql(src: str, k: int) -> str:
    """DISTINCT (doc_id, shash) k-token shingle hashes over CTE ``src``:
    SQL twin of ``operators.dedup.shingle_rows(...).distinct()``, the
    same left fold ``(acc * M + h) % P`` over each window."""
    fold = "th[i]"
    for j in range(1, k):
        fold = f"(({fold}) * 1000003 + th[i+{j}]) % 2147483647"
    return f"""
      SELECT DISTINCT doc_id, shash FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(th) - {k - 1}, 0)),
                 i -> {fold})) AS shash
        FROM (SELECT doc_id, {TOKEN_HASHES_SQL} AS th FROM {src})
      )"""


def buckets_sql(shingles: str) -> str:
    """(doc_id, band, bucket) over the shingle CTE ``shingles``: SQL twin
    of ``shingle_sets_with_signatures`` → ``lsh_bucket_rows``."""
    return f"""
      SELECT doc_id, hidx // {ROWS_PER_BAND} AS band,
             string_agg(minhash, '-' ORDER BY hidx) AS bucket
      FROM (
        SELECT doc_id, hidx, min((a * shash + b) % 2147483647) AS minhash
        FROM {shingles} CROSS JOIN (VALUES {_PARAMS_SQL}) params(hidx, a, b)
        GROUP BY doc_id, hidx
      ) GROUP BY doc_id, hidx // {ROWS_PER_BAND}"""


def candidates_sql(buckets: str) -> str:
    """Distinct (id_a < id_b) pairs sharing a band bucket: SQL twin of
    ``operators.dedup.candidate_pairs``."""
    return f"""
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {buckets} a JOIN {buckets} b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""


def verified_sql(pairs: str, shingles: str) -> str:
    """Every row of CTE ``pairs`` (id_a, id_b, ...) with its shingle-set
    intersection ``n_inter`` and union ``n_union``: SQL twin of
    ``operators.dedup.jaccard_on_pairs`` (Jaccard is
    :data:`JACCARD_SQL`)."""
    sizes = f"(SELECT doc_id, COUNT(*) AS sz FROM {shingles} GROUP BY doc_id)"
    return f"""
      SELECT p.*, COALESCE(i.n_inter, 0) AS n_inter,
             za.sz + zb.sz - COALESCE(i.n_inter, 0) AS n_union
      FROM {pairs} p
      LEFT JOIN (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM (SELECT DISTINCT id_a, id_b FROM {pairs}) c
        JOIN {shingles} sa ON sa.doc_id = c.id_a
        JOIN {shingles} sb ON sb.doc_id = c.id_b AND sb.shash = sa.shash
        GROUP BY c.id_a, c.id_b
      ) i ON i.id_a = p.id_a AND i.id_b = p.id_b
      JOIN {sizes} za ON za.doc_id = p.id_a
      JOIN {sizes} zb ON zb.doc_id = p.id_b"""


JACCARD_SQL = "CAST(n_inter AS DOUBLE) / n_union"


def near_dup_pairs(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(_id_a, _id_b, jaccard) of a (doc_id, text) corpus: 3-token
    shingles, 16 min-hashes in 4 bands, bucket-join candidates, exact
    Jaccard ≥ ``threshold``. SQL twin: :func:`near_dup_sql`."""
    return D.minhash_lsh_dedup(
        corpus,
        "doc_id",
        "text",
        shingle_k=3,
        n_hashes=N_HASHES,
        n_bands=N_BANDS,
        threshold=threshold,
    )


def near_dup_sql(src: str) -> str:
    """``shingled``, ``buckets``, ``cands`` and ``scored`` CTEs over the
    (doc_id, text) CTE ``src``: :func:`near_dup_pairs` before its
    threshold, one ``scored`` row per candidate pair."""
    return f"""shingled AS ({shingles_sql(src, 3)}),
    buckets AS ({buckets_sql('shingled')}),
    cands AS ({candidates_sql('buckets')}),
    scored AS ({verified_sql('cands', 'shingled')})"""


# ---------------------------------------------------------------------------
# Rare-shingle blocking graph
# ---------------------------------------------------------------------------


def rare_shingle_edges(shingles: DataFrame) -> DataFrame:
    """Directed (src, dst) edges, both ways, between the documents that
    share a shingle found in 2..8 of them, from DISTINCT (doc_id,
    _shash) rows such as ``shingle_rows(docs, "doc_id", "text",
    3).distinct()``.

    Each shingle's documents are counted before anything is joined or
    collected, so a stop-shingle found in every document is dropped by
    its count and never becomes a block; each kept block yields at most
    8·7 pairs. The caller decides whether ``shingles`` is materialized:
    it feeds the count and both join sides. SQL twin:
    :func:`rare_edges_sql`."""
    rare = (
        shingles.groupBy("_shash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, 8))
        .select("_shash")
    )
    blocked = shingles.join(rare, "_shash")
    return (
        blocked.alias("a")
        .join(blocked.alias("b"), "_shash")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )


def rare_edges_sql(shingles: str) -> str:
    """``rare`` and ``edges`` CTEs over the (doc_id, shash) shingle CTE
    ``shingles``: SQL twin of :func:`rare_shingle_edges`."""
    return f"""rare AS (
      SELECT shash FROM {shingles} GROUP BY shash HAVING COUNT(*) BETWEEN 2 AND 8
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM {shingles} a JOIN rare USING (shash) JOIN {shingles} b USING (shash)
      WHERE a.doc_id <> b.doc_id
    )"""


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes over tokens, labelled by ``lang``
# ---------------------------------------------------------------------------


def nb_scores(docs: DataFrame) -> DataFrame:
    """Per (doc_id, labeled_lang, lang): ``score_unats``, the document's
    Naive-Bayes score for class ``lang`` in integer micro-nats, trained
    on the (doc_id, lang, text) frame itself.

    Every (token, lang) log-likelihood (add-one smoothed over the shared
    vocabulary) and every class prior is one exact-integer division, one
    ``ln`` and a round, so a document's score is an exact BIGINT sum.
    The |vocab|·|langs| counts and the |langs| prior counts are lazily
    checkpointed: each feeds several branches, and without them the plan
    re-tokenizes the corpus once per branch. SQL twin:
    :func:`nb_scores_sql`."""
    toks = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.explode(X.tokens(F.col("text"))).alias("token"),
    )
    counts_tl = (
        toks.groupBy(F.col("labeled_lang").alias("lang"), "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot_l = counts_tl.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = counts_tl.select("token").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    pr = (
        toks.groupBy("labeled_lang")
        .agg(F.countDistinct("doc_id").alias("n"))
        .localCheckpoint(eager=False)
    )
    priors = pr.crossJoin(F.broadcast(pr.agg(F.sum("n").alias("total")))).select(
        F.col("labeled_lang").alias("lang"),
        F.round(F.log(F.col("n").cast("double") / F.col("total")) * 1000000)
        .cast("long")
        .alias("prior_unats"),
    )
    model = (
        vocab.crossJoin(tot_l)
        .join(counts_tl, ["token", "lang"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "token",
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("v"))
                )
                * 1000000
            )
            .cast("long")
            .alias("logp_unats"),
        )
    )
    return (
        toks.join(F.broadcast(model), "token")
        .join(F.broadcast(priors), "lang")
        .groupBy("doc_id", "labeled_lang", "lang")
        .agg((F.sum("logp_unats") + F.first("prior_unats")).alias("score_unats"))
    )


def nb_scores_sql(src: str = "documents") -> str:
    """CTEs ``toks`` … ``nb_scored`` over the (doc_id, lang, text) table
    ``src``: SQL twin of :func:`nb_scores`."""
    return f"""toks AS (
      SELECT doc_id, lang AS labeled_lang, unnest({TOKENS_SQL}) AS token
      FROM {src}
    ),
    counts_tl AS (
      SELECT labeled_lang AS lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    tot_l AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM counts_tl GROUP BY lang
    ),
    vocab AS (SELECT DISTINCT token FROM toks),
    vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    priors AS (
      SELECT lang,
             CAST(round(ln(CAST(n AS DOUBLE) / total) * 1000000) AS BIGINT)
               AS prior_unats
      FROM (
        SELECT labeled_lang AS lang,
               COUNT(DISTINCT doc_id) AS n,
               SUM(COUNT(DISTINCT doc_id)) OVER () AS total
        FROM toks GROUP BY labeled_lang
      )
    ),
    model AS (
      SELECT v.token, l.lang,
             CAST(round(ln(
               CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
               / (l.tot + (SELECT v FROM vsize))
             ) * 1000000) AS BIGINT) AS logp_unats
      FROM vocab v CROSS JOIN tot_l l
      LEFT JOIN counts_tl c ON c.token = v.token AND c.lang = l.lang
    ),
    nb_scored AS (
      SELECT t.doc_id, t.labeled_lang, m.lang,
             CAST(SUM(m.logp_unats) AS BIGINT) + ANY_VALUE(p.prior_unats)
               AS score_unats
      FROM toks t
      JOIN model m USING (token)
      JOIN priors p ON p.lang = m.lang
      GROUP BY t.doc_id, t.labeled_lang, m.lang
    )"""


# ---------------------------------------------------------------------------
# Char-bigram language model (CCNet-style quality score)
# ---------------------------------------------------------------------------


def charlm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, sum_logp_unats): each document's char-bigram
    count and log-likelihood total in integer micro-nats under a bigram
    model trained on the (doc_id, text) frame itself, add-one smoothed
    and conditioned on the left character. SQL twin:
    :func:`charlm_scores_sql`."""
    s = docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("s"))
    # a codegen char explode + lead window, not a substr-transform
    # higher-order function: interpreted lambdas cost ~µs per element,
    # and the window's doc_id shuffle is reused by the per-doc rollup
    chars = s.filter(F.length("s") >= 2).select(
        "doc_id", F.posexplode(F.split("s", "")).alias("p", "ch")
    )
    wch = Window.partitionBy("doc_id").orderBy("p")
    bg = (
        chars.withColumn("bg", F.concat("ch", F.lead("ch").over(wch)))
        .filter(F.length("bg") == 2)
        .select("doc_id", "bg")
    )
    vocab = s.select(F.explode(F.split(F.col("s"), "")).alias("c")).agg(
        F.countDistinct("c").cast("long").alias("v")
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    tot_w = Window.partitionBy(F.substring("bg", 1, 1))
    model = (
        counts.withColumn("tot", F.sum("cnt").over(tot_w))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("cnt") + 1).cast("double") / (F.col("tot") + F.col("v"))
                )
                * 1000000
            )
            .cast("long")
            .alias("logp_unats"),
        )
    )
    return (
        bg.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_unats").alias("sum_logp_unats"),
        )
    )


def charlm_scores_sql(src: str = "documents") -> str:
    """CTEs ``lm_s`` … ``lm_scores`` over the (doc_id, text) table
    ``src``: SQL twin of :func:`charlm_scores`."""
    return f"""lm_s AS (
      SELECT doc_id, lower(trim(text)) AS s FROM {src}
    ),
    lm_bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(s)), i -> s[i : i + 1])) AS bg
      FROM lm_s WHERE length(s) >= 2
    ),
    lm_vocab AS (
      SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS v
      FROM (SELECT unnest(string_split(s, '')) AS c FROM lm_s)
    ),
    lm_model AS (
      SELECT bg,
             CAST(round(ln(
               CAST(cnt + 1 AS DOUBLE) / (tot + (SELECT v FROM lm_vocab))
             ) * 1000000) AS BIGINT) AS logp_unats
      FROM (
        SELECT bg, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY substr(bg, 1, 1)) AS tot
        FROM lm_bg GROUP BY bg
      )
    ),
    lm_scores AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(logp_unats) AS BIGINT) AS sum_logp_unats
      FROM lm_bg JOIN lm_model USING (bg)
      GROUP BY doc_id
    )"""
