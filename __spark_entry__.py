"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``insight_de_smart_grid_spark`` package; this
module only adapts it to the driver's entry-point shape.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from insight_de_smart_grid_spark.plans import registry as _registry
from insight_de_smart_grid_spark.session import runtime_conf

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (duty-cycle, SURVEY §3.1) on the smoke-scale tables."""
    return _pinned(_registry.QUERIES["duty_cycle_10m"].fn)(spark,
                                                           SMOKE_SF_DIR)


def _pinned(fn: Callable[[SparkSession, str], DataFrame]
            ) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the engine's runtime confs, whatever session the driver hands
    us: among them UTC (timestamp hashes), ANSI off (the library's
    arithmetic/cast semantics) and nanos-as-long parquet timestamps
    (``session.runtime_conf``, which ``get_spark`` applies too)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        runtime_conf(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _pinned(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
