"""Unit tests for plans/text_kit.py: each PySpark piece against its DuckDB
SQL twin on tiny hand-made frames, the hot-shingle bound of the blocking
graph, the tokenizer's domain, and a guard that each shared SQL piece is
written once under plans/."""

from __future__ import annotations

import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

from data_integration_project_spark.functions.text import fingerprint_md5, tokens
from data_integration_project_spark.operators import dedup as D
from data_integration_project_spark.plans import dedup_q
from data_integration_project_spark.plans import text_kit as K

from .test_dedup_similarity import _SIMHASH_TEXTS

# near copies (one token appended or dropped), exact copies, short and
# empty docs, repeated shingles inside one doc, non-ASCII and a null
_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
    (2, "the quick brown fox jumps over the lazy dog near the river", "en"),
    (3, "der schnelle braune fuchs springt über den faulen hund am fluss", "de"),
    (4, "der schnelle braune fuchs springt über den faulen hund am fluss ja", "de"),
    (5, "le renard brun rapide saute par dessus le chien paresseux", "fr"),
    (6, "a b a b a b a b a b a b", "en"),
    (7, "two words", "en"),
    (8, "", "fr"),
    (9, None, "de"),
    (10, "  Café  Ünïcode naïve résumé ñandú straße café ünïcode naïve  ", "fr"),
    (15, "le renard brun rapide saute par dessus le chien paresseux encore", "fr"),
    (20, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    c.executemany("INSERT INTO docs VALUES (?, ?, ?)", _DOCS)
    return c


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _sql(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


@pytest.mark.parametrize(
    "variants, where",
    [
        (dedup_q._PLANTED, None),
        (dedup_q._CHAIN, dedup_q._CHAIN_WHERE),
        (dedup_q._CDC, None),
        (
            (("doc_id % 2 = 1", 7, "upper(text) || '!'"), (None, 100, "'x'")),
            "doc_id < 9",
        ),
    ],
    ids=["planted", "chain", "cdc", "edited"],
)
def test_variant_corpus(docs, con, variants, where):
    got = _rows(K.variant_corpus(docs, variants, where))
    corpus = K.variant_corpus_sql(variants, where, "docs")
    want = _sql(con, f"WITH {corpus} SELECT * FROM corpus")
    assert got == want
    assert len(got) > len(_DOCS) // 2


@pytest.mark.parametrize("k", [3, 8])
def test_shingles(docs, con, k):
    got = _rows(D.shingle_rows(docs, "doc_id", "text", k).distinct())
    want = _sql(con, f"SELECT doc_id, shash FROM ({K.shingles_sql('docs', k)})")
    assert got == want
    assert {r[0] for r in got} == {
        i for i, t, _ in _DOCS if t is not None and len(t.split()) >= k
    }


def test_signatures_buckets_candidates_verify(docs, con):
    corpus = docs.select("doc_id", "text")
    sets = D.shingle_sets_with_signatures(corpus, "doc_id", "text", 3, K.N_HASHES)
    buckets = D.lsh_bucket_rows(sets, "doc_id", K.N_BANDS, K.ROWS_PER_BAND)
    ctes = f"WITH {K.near_dup_sql('docs')}"
    want = _sql(con, f"{ctes} SELECT doc_id, band, bucket FROM buckets")
    assert _rows(buckets) == want
    cands = _rows(D.candidate_pairs(buckets, "doc_id"))
    assert cands == _sql(con, f"{ctes} SELECT id_a, id_b FROM cands")
    assert (0, 1) in cands and (3, 4) in cands
    verified = _rows(K.near_dup_pairs(corpus, threshold=0.0))
    want = _sql(con, f"{ctes} SELECT id_a, id_b, {K.JACCARD_SQL} FROM scored")
    assert verified == want
    assert (0, 1, 1.0) in verified


def test_nb_scores(docs, con):
    got = _rows(K.nb_scores(docs))
    want = _sql(
        con,
        f"WITH {K.nb_scores_sql('docs')} "
        "SELECT doc_id, labeled_lang, lang, score_unats FROM nb_scored",
    )
    assert got == want
    assert len(got) == 3 * sum(1 for _, t, _ in _DOCS if t is not None)


def test_charlm_scores(docs, con):
    got = _rows(K.charlm_scores(docs))
    want = _sql(
        con,
        f"WITH {K.charlm_scores_sql('docs')} "
        "SELECT doc_id, n_bigrams, sum_logp_unats FROM lm_scores",
    )
    assert got == want
    assert len(got) == sum(1 for _, t, _ in _DOCS if t and len(t.strip()) >= 2)


def test_rare_shingle_edges_bound_hot_shingles(spark):
    """A shingle in 9 docs yields no edge; one in 8 docs yields all 8·7
    ordered pairs; one in 2 docs yields both directions. The edge plan
    collects no doc list before its count filter."""
    hot = [(i, f"hot stop shingle w{i} x{i} y{i}") for i in range(9)]
    eight = [(100 + i, f"eight way block p{i} q{i} r{i}") for i in range(8)]
    pair = [(200, "rare pair shingle alpha"), (201, "beta rare pair shingle")]
    rows = hot + eight + pair
    df = spark.createDataFrame(rows, "doc_id long, text string")
    edges = K.rare_shingle_edges(D.shingle_rows(df, "doc_id", "text", 3).distinct())
    got = _rows(edges)
    c = duckdb.connect()
    c.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    c.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    sh = f"sh AS ({K.shingles_sql('docs', 3)})"
    want = _sql(c, f"WITH {sh}, {K.rare_edges_sql('sh')} SELECT src, dst FROM edges")
    assert got == want
    ids8 = range(100, 108)
    assert got == sorted(
        [(a, b) for a in ids8 for b in ids8 if a != b] + [(200, 201), (201, 200)]
    )
    plan = edges._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "collect_list" not in plan and "collect_set" not in plan


#: the rows Java's full case mapping lowers differently from DuckDB's
_CASE_MAPPED = {
    "ΟΔΥΣΣΕΥΣ Straße İstanbul ǅemal": "final sigma and dotted İ, as below",
    "ΟΔΥΣΣΕΥΣ": "word-final Σ lowers to ς in Java, σ in DuckDB",
    "İstanbul": "İ lowers to i̇ (two code points) in Java, i in DuckDB",
}
_TOKENIZER_TEXTS = _SIMHASH_TEXTS + [
    "a\x0bb c",
    "\x0b\x0bvertical\x0btab\x0b",
    "Straße ǅemal",
    "ΟΔΥΣΣΕΥΣ",
    "İstanbul",
]


@pytest.fixture(scope="module")
def spark_tokens(spark):
    df = spark.createDataFrame([(t,) for t in _TOKENIZER_TEXTS], "text string")
    tk = df.select("text", tokens(F.col("text")).alias("tk"))
    return {r["text"]: r["tk"] for r in tk.collect()}


@pytest.mark.parametrize(
    "text",
    [
        pytest.param(t, marks=pytest.mark.xfail(strict=True, reason=_CASE_MAPPED[t]))
        if t in _CASE_MAPPED
        else t
        for t in _TOKENIZER_TEXTS
    ],
)
def test_tokenizer_twins(spark_tokens, text):
    got = duckdb.execute(
        f"SELECT {K.TOKENS_SQL} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()[0]
    assert got == spark_tokens[text]


@pytest.mark.parametrize(
    "text", ["a\x0bb  c", "\x0b\x0bvertical\x0btab\x0b", " Two\tWords\n", None]
)
def test_fingerprint_twins(spark, text):
    got = duckdb.execute(
        f"SELECT {K.FINGERPRINT_SQL} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()[0]
    df = spark.createDataFrame([(text,)], "text string")
    assert got == df.select(fingerprint_md5(F.col("text"))).first()[0]


_PLANS = pathlib.Path(K.__file__).parent


@pytest.mark.parametrize(
    "fragment",
    [
        "min((a * shash + b) % 2147483647)",
        "acc * 16 + d",
        "regexp_split_to_array(lower(trim(",
        "md5(regexp_replace(lower(trim(",
        "HAVING COUNT(*) BETWEEN 2 AND 8",
        "counts_tl AS (",
    ],
)
def test_shared_sql_written_once(fragment):
    hits = {
        p.name: n
        for p in sorted(_PLANS.rglob("*.py"))
        if (n := p.read_text(encoding="utf-8").count(fragment))
    }
    assert sum(hits.values()) == 1, hits
