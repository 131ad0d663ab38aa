"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``kafkastreaming_spark`` package; operator
keys follow SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafkastreaming_spark import all as _all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.4): Q1-shape pricing summary, sf0.001."""
    sf = "/root/testdata/sf0.001"
    return _all.QUERIES["agg_group"](spark, sf)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_all.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key.

    Since r10 every registered key has an oracle (304/304 as of r12):
    approximate
    sketches emit envelope booleans next to exact counts, trained
    indexes emit invariants + recall floors, and streaming keys carry
    batch twins of the deterministic replay (an omitted key would fall
    back to the driver's rows-only check; none do)."""
    return dict(_all.ORACLES)
