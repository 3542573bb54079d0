"""Registry for the engine's query catalog.

Each entry pairs a PySpark builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle string that DuckDB runs over the same
parquet tables (pre-registered views). The correctness protocol
(row-count + schema + order-insensitive value-hash) requires:

* identical column names — alias every computed column on BOTH sides;
* deterministic values — float aggregates go through the exact-decimal
  pattern (see :func:`dsum`), ratios are a single float division of
  exact operands, and LIMIT queries carry a total tie-breaking ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune_session
from ..sources import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver does a weaker rows-only check
    doc: str = ""
    # (filename, first line) of the defining code object — the
    # reload-stable identity the duplicate-name guard compares
    src: tuple = ()


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a catalog query with its DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)  # pin UTC/AQE even on a driver-owned session
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__qualname__ = fn.__qualname__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__  # keep the defining plan module
        prev = REGISTRY.get(name)
        src = (fn.__code__.co_filename, fn.__code__.co_firstlineno)
        if prev is not None and prev.src != src:
            # a silent dict overwrite would drop an existing query from
            # the catalog while its tests keep passing against the NEW
            # function — fail at import instead (caught a real duplicate
            # in round 6). Identity is (filename, first line) of the
            # code object: identical on a true module reload
            # (importlib.reload, re-import under a sys.path alias) —
            # re-register idempotently — but DIFFERENT for two same-name
            # defs in one module (copy-paste duplicate), which
            # module+qualname matching would wave through.
            raise ValueError(
                f"catalog query {name!r} registered twice "
                f"({prev.fn.__module__} and {fn.__module__})"
            )
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "", src=src
        )
        return wrapped

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader used by query builders."""
    return load_table(spark, name, sf_dir)


_TMP_ROOT: str | None = None


def run_tmpdir(prefix: str) -> str:
    """Per-invocation scratch directory under ONE process-scoped root
    that is removed at interpreter exit (atexit).

    Catalog queries that exercise sinks/streams need on-disk scratch
    (checkpoints, staged stream files, written zones). Raw
    ``tempfile.mkdtemp`` leaks one directory per invocation for the
    machine's lifetime — in the long-lived bench/oracle-gate session
    that is hundreds of directories, some holding row-scale parquet
    (the leak class ADVICE flagged on ``streaming_neardup_ingest``).
    Queries whose RETURNED plan reads from the scratch dir cannot
    rmtree per-invocation, so the root-level atexit sweep is the
    session-granularity backstop for the whole class; queries with
    small-aggregate outputs additionally collect eagerly and rmtree
    their own dir in try/finally.
    """
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=_tmp_root())


def run_tmpfile(prefix: str, suffix: str) -> str:
    """Scratch FILE under the same atexit-swept root (sqlite twins)."""
    import os
    import tempfile

    fd, path = tempfile.mkstemp(prefix=prefix, suffix=suffix, dir=_tmp_root())
    os.close(fd)
    return path


def _tmp_root() -> str:
    global _TMP_ROOT
    import atexit
    import shutil
    import tempfile

    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="spark_engine_scratch_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return _TMP_ROOT


# ---------------------------------------------------------------------------
# Determinism helpers (house style for oracle-comparable aggregates)
# ---------------------------------------------------------------------------


def dsum(col: Column, alias: str, scale: int = 6) -> Column:
    """Order-independent float sum: per-row cast to exact decimal, exact
    decimal addition, final cast to double. DuckDB twin:
    ``CAST(SUM(CAST(expr AS DECIMAL(18,s))) AS DOUBLE) AS alias``.

    Verified bit-exact against DuckDB on the test corpus; double
    summation order varies with partitioning, decimal addition doesn't.
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def SQL_DSUM(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def SQL_MD5_INT(expr: str, n_hex: int) -> str:
    """The first ``n_hex`` (≤ 15) hex digits of ``md5(expr)`` as a BIGINT,
    folded ``acc·16 + digit`` from the digits' ascii codes. Spark twin:
    ``F.conv(F.substring(F.md5(..), 1, n_hex), 16, 10).cast("long")``
    (``operators.sketch.hll_hash``)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({expr}), 1, {n_hex}), ''), "
        "c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87 "
        "ELSE ascii(c) - 48 END AS BIGINT))), (acc, d) -> acc * 16 + d)"
    )


def dmean(col: Column, alias: str, scale: int = 6) -> Column:
    """Order-independent float mean: exact-decimal sum ÷ exact count as a
    single double division. DuckDB twin: ``SQL_DMEAN``."""
    num = F.sum(col.cast(f"decimal(18,{scale})")).cast("double")
    return (num / F.count(col)).alias(alias)


def SQL_DMEAN(expr: str, alias: str, scale: int = 6) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
