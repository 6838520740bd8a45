"""The registry workload's query list."""

from __future__ import annotations

import bench
import run

from clinvar_pipeline_spark import queries as Q


def test_registry_queries_are_frozen_tier_members_in_its_order():
    frozen = [q for q in bench.BENCH_QUERIES if q in run.REGISTRY_QUERIES]
    assert frozen == run.REGISTRY_QUERIES
    oracles = Q.oracle_sql()
    assert all(q in oracles for q in run.REGISTRY_QUERIES)
