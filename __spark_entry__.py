"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline on sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 for the
driver's DuckDB correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: seeded conjunctive-count workload answered in one exact-count
    scan over lineitem (SURVEY §2 B1 batch path)."""
    from naru_spark.entry_queries import q_workload_oracle

    return q_workload_oracle(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from naru_spark.entry_queries import build_registry

    return build_registry()[0]


def oracle_sql() -> dict[str, str]:
    from naru_spark.entry_queries import build_registry

    return build_registry()[1]
