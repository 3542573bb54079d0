"""Salted-skew operators and portable-hash fuzz parity
(the dedup oracle rests on Spark and DuckDB computing identical
hashes — fuzz the tricky string space once per suite)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from data_integration_project_spark.functions.text import (
    char_fold_hash,
    token_hash_array,
    tokens,
)
from data_integration_project_spark.operators.skew import salted_join, salted_sum


def test_salted_sum_matches_plain(spark, sf_small):
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    plain = {
        (r["o_orderstatus"],): (r["n"], round(r["s"], 2))
        for r in o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    salted = salted_sum(
        o,
        ["o_orderstatus"],
        [("o_totalprice", "s")],
        salt_from="o_orderkey",
        n_salts=8,
    )
    got = {
        (r["o_orderstatus"],): (r["n_rows"], round(r["s"], 2)) for r in salted.collect()
    }
    assert got == plain


def test_salted_join_matches_plain(spark, sf_small):
    o = spark.read.parquet(f"{sf_small}/orders.parquet").select("o_orderkey", "o_custkey")
    c = spark.read.parquet(f"{sf_small}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, "o_custkey").count()
    assert salted_join(o, c, "o_custkey", n_salts=4).count() == plain
    # with an explicit intra-key salt column
    assert salted_join(o, c, "o_custkey", n_salts=4, salt_from="o_orderkey").count() == plain


#: adversarial corpus: unicode, quotes, regex metachars, whitespace
#: runs, empty-ish strings, long tokens
_FUZZ = [
    "hello world",
    "  padded   runs\tof\nwhitespace  ",
    "Trần Hạnh 2424 café naïve Ω",
    "quotes ' \" and , commas",
    "regex .* [a-z] (meta) {chars}",
    "digits 123 456789 0",
    "a",
    " ",
    "x" * 500,
    "mixed CASE Tokens Here",
    "tab\tseparated\ttokens",
    "punct!!! ### $$$ %%%",
]


def test_char_fold_hash_matches_duckdb_fuzz(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(_FUZZ)], "i int, s string")
    got = {
        r["i"]: (r["h"], r["th"])
        for r in df.select(
            "i",
            char_fold_hash(F.col("s")).alias("h"),
            token_hash_array(F.col("s")).alias("th"),
        ).collect()
    }
    con = duckdb.connect()
    charfold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split({x}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        "(acc, c) -> (acc*31 + c) % 2147483647)"
    )
    for i, s in enumerate(_FUZZ):
        h, th = con.execute(
            f"SELECT {charfold.format(x='?')}, "
            f"list_transform(regexp_split_to_array(lower(trim(?)), '\\s+'), "
            f"t -> {charfold.format(x='t')})",
            [s, s],
        ).fetchone()
        assert got[i][0] == h, f"char hash diverged on {s!r}"
        assert list(got[i][1]) == th, f"token hashes diverged on {s!r}"


def test_tokens_match_duckdb_fuzz(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(_FUZZ)], "i int, s string")
    got = {r["i"]: r["t"] for r in df.select("i", tokens(F.col("s")).alias("t")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(_FUZZ):
        (t,) = con.execute(
            "SELECT regexp_split_to_array(lower(trim(?)), '\\s+')", [s]
        ).fetchone()
        assert list(got[i]) == t, f"tokenization diverged on {s!r}"
