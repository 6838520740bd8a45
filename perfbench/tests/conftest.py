"""Fixtures for the benchmark's own tests.

Run from the checkout root: ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
for p in (str(ROOT), str(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def traced_spark(tmp_path_factory):
    """A tiny local session writing an uncompressed event log; yields
    (spark, event log dir)."""
    from clinvar_pipeline_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions="2",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.driver.memory": "1g",
        },
    )
    yield spark, log_dir
    spark.stop()
