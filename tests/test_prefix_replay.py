"""Driver-order prefix replay: the first queries of ``queries()`` in
CATALOG order, one shared session, each immediately oracle-compared.

The full gate (test_queries_oracle) runs every REGISTRY query in sorted
name order; the driver runs a prefix of ``queries()`` in CATALOG order,
which is registry (definition) order. A query that mutates session
state (confs, temp views, registered sources) can pass in one order and
poison a neighbor in the other. This test pins the first slice of the
order the driver actually runs.
"""

from __future__ import annotations

from tests.oracle_harness import run_compare

_N = 12  # keep the suite's marginal cost ~1 min; ad-hoc replays go deeper


def test_driver_prefix_replays_in_order(spark, sf_small):
    from data_integration_project_spark import plans

    names = list(plans.queries())[:_N]
    for name in names:
        run_compare(spark, name, sf_small)
