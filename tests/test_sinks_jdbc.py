"""JDBC-plan tests: option construction (no live RDBMS here — execution
is exercised only up to plan construction)."""

from __future__ import annotations

import pytest

from data_integration_project_spark.sources.jdbc import JdbcSource, read_table


def test_jdbc_plan_construction(spark):
    src = JdbcSource(
        url="jdbc:sqlserver://localhost;databaseName=x",
        user="u",
        password="p",
        fetchsize=500,
    )
    opts = src.options()
    assert opts["fetchsize"] == "500" and opts["user"] == "u"
    # plan builds lazily; executing would need a live server + driver
    with pytest.raises(Exception):
        read_table(spark, src, "khach_hang").count()
