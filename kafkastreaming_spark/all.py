"""Import every operator module so their @query decorators register.

``__spark_entry__.py``, tests, the verifier, and bench.py all import this
module and then read ``registry.QUERIES`` / ``registry.ORACLES``, which
keep registration order; every consumer that needs a stable order sorts.
"""

from __future__ import annotations

from kafkastreaming_spark.functions import (  # noqa: F401
    collections,
    datetimes,
    math_cond,
    spark4,
    strings,
    urls,
)
from kafkastreaming_spark.operators import (  # noqa: F401
    aggregations,
    analytics,
    corpus,
    joins,
    kmeans,
    llm,
    multimodal,
    pipeline,
    pq,
    projections,
    quality,
    relational_ext,
    scans,
    timeseries,
    tpch,
    udfs,
    windows,
    setops,
    sorts,
)
from kafkastreaming_spark.registry import ORACLES, QUERIES  # noqa: F401
from kafkastreaming_spark.sources import python_ds  # noqa: F401
from kafkastreaming_spark.streaming import batch_twins, runtime  # noqa: F401
