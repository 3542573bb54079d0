"""Unit tests for the shared split search in plans/customer_model.py:
tie-breaks and degenerate input, Spark builder against its DuckDB SQL
twin on tiny hand-made frames no oracle fixture reaches."""

from __future__ import annotations

import duckdb
import pytest

from data_integration_project_spark.plans.customer_model import (
    best_split,
    best_split_sql,
)


def _sql_split(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x1 BIGINT, x2 BIGINT, y INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    return con.execute(
        f"WITH {best_split_sql('t', 'x')} "
        "SELECT f, v, nl, pl, nr, pr, n, pos FROM split_x"
    ).fetchall()


@pytest.mark.parametrize(
    "rows, expected",
    [
        # x2 = x1 - 1: x1 <= 2 and x2 <= 1 split alike and score equal;
        # the feature breaks the tie before the threshold does
        (
            [(1, 0, 0), (2, 1, 0), (3, 2, 1), (4, 3, 1)],
            ("x1", 2, 2, 0, 2, 2, 4, 2),
        ),
        # thresholds 0 and 1 both score 2: the smaller one wins; the
        # constant x2 offers no threshold
        (
            [(0, 5, 1), (1, 5, 0), (2, 5, 1)],
            ("x1", 0, 1, 1, 2, 1, 3, 2),
        ),
        # constant x1 offers no threshold, so x2 wins alone
        (
            [(7, 0, 0), (7, 1, 0), (7, 2, 1)],
            ("x2", 1, 2, 0, 1, 1, 3, 1),
        ),
        # both features constant: no split at all
        ([(7, 3, 0), (7, 3, 1), (7, 3, 1)], None),
    ],
    ids=["feature-tie", "threshold-tie", "constant-x1", "all-constant"],
)
def test_best_split_ties_and_constant_features(spark, rows, expected):
    df = spark.createDataFrame(rows, "x1 long, x2 long, y int")
    got = best_split(df)
    if expected is None:
        assert got is None
        assert _sql_split(rows) == []
        return
    assert got[1:] == expected
    assert _sql_split(rows) == [expected]
