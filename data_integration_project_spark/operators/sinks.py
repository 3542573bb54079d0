"""Sink operators (reference K4): bulk JDBC loads as a DataFrame writer
plan. The ETL's zone writes live in ``streaming/pipeline.py``
(``ZonePaths``)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def jdbc_bulk_insert(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batchsize: int = 1000,
    mode: str = "append",
) -> None:
    """K4: batched bulk insert (reference executemany batch=1000 with
    commit-per-batch, etl/db/sql_client.py:118-194) → JDBC writer with
    ``batchsize``. Divergence (SURVEY.md §4): the reference skips a
    failed batch and continues; Spark task retry is all-or-nothing —
    pre-validate rows (the quality engine's job) instead of relying on
    partial-batch recovery. Gated: needs a reachable RDBMS + driver jar."""
    props = {"batchsize": str(batchsize)}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    if driver is not None:
        props["driver"] = driver
    df.write.mode(mode).jdbc(url, table, properties=props)
