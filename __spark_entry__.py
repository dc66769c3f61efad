"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on a corpus synthesized
deterministically from /root/testdata/sf0.001 (BASELINE.json input_hint shape)
and returns the normalized output-span DataFrame.

``queries()``/``oracle_sql()`` expose the registry in
``table_extractor_spark.plans.queries``: the extraction engine's queries
(kernel extraction, metrics, triples, TTL and the explorer path),
``bench.py``'s headline set, and the operator queries the test suite checks
by name.  EVERY registered query carries a DuckDB-runnable ANSI oracle: the
approximate and iterative ANN family (k-means training) runs
integer-exact and its oracles REPLAY the full deterministic training, so
no rows-only checks remain.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from table_extractor_spark.plans import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.extract_synthetic(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for every registered query."""
    return _q.oracle_sql()
