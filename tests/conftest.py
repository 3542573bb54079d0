from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast session startup in tests
# The suite shares one session for its whole run. Under the package's
# 48g default, G1 grows the heap instead of collecting, and on a 15 GB
# host the kernel OOM-kills the JVM partway through the catalog oracle
# tests. The catalog's heaviest queries run on a default 1g heap
# (tests/test_small_heap.py), so 4g is ample.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def pytest_configure(config):
    """Auto-regenerate plans/driver_sampled.py from the CORRECTNESS
    files before collection: the driver writes CORRECTNESS_r{N}.json
    AFTER the builder's last commit every round, so without this the
    freshness check (test_driver_sampled_is_current) opened each round
    red for pure bookkeeping (VERDICT r7 item 2 — fourth consecutive
    round). Generation is deterministic from committed artifacts and
    writes only on change; commit the regenerated module with the new
    CORRECTNESS file as the round's first commit."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_driver_sampled", os.path.join(root, "tools", "gen_driver_sampled.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    try:
        mod.main()
    except Exception as exc:  # noqa: BLE001 — regen is best-effort
        # Read-only checkout, a malformed/truncated CORRECTNESS_r{N}.json
        # (json.JSONDecodeError), or any generator bug must NOT abort
        # collection for the whole suite (ADVICE r8): warn and fall back
        # to the committed module, which is always importable.
        import warnings

        warnings.warn(
            f"driver_sampled auto-regen skipped ({type(exc).__name__}: {exc}); "
            f"using the committed module",
            stacklevel=1,
        )

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_integration_project_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
