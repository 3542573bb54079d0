"""Every catalog query with an oracle must match DuckDB exactly.

This is a local replica of the driver's sf0.01 gate, run at sf0.001 for
speed (set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to run the real
scale). Queries without an oracle get a smoke-run (schema + rows>=0).
"""

from __future__ import annotations

import math
import os

import pytest

from data_integration_project_spark import plans

from .oracle_harness import run_compare

TEST_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ORACLE_NAMES = sorted(n for n, s in plans.REGISTRY.items() if s.oracle is not None)
SMOKE_NAMES = sorted(n for n, s in plans.REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, name):
    run_compare(spark, name, TEST_SF)


@pytest.mark.parametrize("name", SMOKE_NAMES)
def test_smoke_runs(spark, name):
    df = plans.REGISTRY[name].fn(spark, TEST_SF)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(plans.REGISTRY)
    assert list(qs) == list(plans.REGISTRY)


def test_duplicate_name_guard_and_reload_idempotency(tmp_path):
    """The @query duplicate-name guard must RAISE for two same-name
    defs (copy-paste duplicate — round 6's real bug) while allowing a
    true module re-execution (importlib.reload) to re-register
    idempotently. Identity is the code object's (filename, firstlineno),
    which is stable across reloads but differs between duplicate defs."""
    import importlib
    import importlib.util

    import data_integration_project_spark.plans.events_q as eq

    n0 = len(plans.REGISTRY)
    importlib.reload(eq)  # true reload: same file, same line numbers
    assert len(plans.REGISTRY) == n0

    dup_src = (
        "from data_integration_project_spark.plans.catalog import query\n"
        '@query("zz_dup_probe")\n'
        "def f(spark, sf): ...\n"
        '@query("zz_dup_probe")\n'
        "def f(spark, sf): ...\n"
    )
    p = tmp_path / "zz_dup_probe_mod.py"
    p.write_text(dup_src)
    spec = importlib.util.spec_from_file_location("zz_dup_probe_mod", p)
    mod = importlib.util.module_from_spec(spec)
    try:
        with pytest.raises(ValueError, match="registered twice"):
            spec.loader.exec_module(mod)
    finally:
        plans.REGISTRY.pop("zz_dup_probe", None)


def test_group_relative_advantage_degenerate_groups(spark, tmp_path):
    # The fixture orders give every sampled customer several distinct
    # prices, so the GRPO zero-variance branch (n=1 group, or all
    # rewards equal -> advantage 0 by convention) never fires in the
    # catalog gate.  Pin it end-to-end on a crafted orders table run
    # through the full Spark-vs-DuckDB compare.
    import shutil

    from data_integration_project_spark.schemas import TABLE_NAMES

    src = TEST_SF
    for name in TABLE_NAMES:
        shutil.copy(f"{src}/{name}.parquet", tmp_path / f"{name}.parquet")
    rows = [
        # group 20: single rollout -> n=1, variance 0, advantage 0
        (1, 20, 11.00),
        # group 40: constant rewards -> variance 0, advantage 0
        (2, 40, 5.00), (3, 40, 5.00), (4, 40, 5.00),
        # group 60: ordinary spread -> exact (n*r - s1)/sqrt(n*s2 - s1^2)
        (5, 60, 1.00), (6, 60, 2.00), (7, 60, 6.00),
        # group 7: not on the %20 gate -> must not appear
        (8, 7, 9.99),
    ]
    crafted = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    )
    crafted.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_orders_tmp"))
    import glob
    import os

    part = glob.glob(str(tmp_path / "_orders_tmp" / "part-*.parquet"))[0]
    os.replace(part, tmp_path / "orders.parquet")
    run_compare(spark, "orders_group_relative_advantage", str(tmp_path))

    df = plans.REGISTRY["orders_group_relative_advantage"].fn(spark, str(tmp_path))
    got = {r["rollout_id"]: r["advantage"] for r in df.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}
    assert got[1] == 0.0 and got[2] == got[3] == got[4] == 0.0
    # group 60 exact check: n=3, s1=900, s2=410000 -> 900/sqrt(420000)
    assert got[5] < got[6] < got[7]
    assert got[7] == 900.0 / math.sqrt(420000.0)
