"""SparkSession construction and per-session preparation.

Two paths:

* :func:`get_session` — build our own session (tests, bench) with the
  configs a 100 TB deployment would want baked in (AQE, UTC, parquet
  nanos shim, Arrow for pandas UDFs).
* :func:`prepare` — defensively apply the *runtime-settable* subset of
  those configs to a session we did not build (the driver hands us its
  own ``SparkSession``).  Verified: ``spark.sql.legacy.parquet.nanosAsLong``
  and ``spark.sql.session.timeZone`` are runtime-settable SQL confs in
  Spark 4.1.2 (SURVEY.md §7.5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to any session before our queries run.
_RUNTIME_CONFS: dict[str, str] = {
    # Determinism: all testdata timestamps are tz-naive; pin UTC so Spark
    # and the DuckDB oracle agree to the microsecond (SURVEY.md §5.4).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.1.2 refuses it unless
    # read as raw int64 nanos (SURVEY.md §7.5). io.load_table converts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Exact ASCII semantics for upper/lower etc. independent of JVM locale.
    "spark.sql.ansi.enabled": "false",
    # Performance subset — every one of these is a runtime-settable SQL
    # conf, so an externally-owned session (the driver's) gets the same
    # physical plans as get_session().  A vanilla session's 200 shuffle
    # partitions schedule 6x the tasks per tiny local shuffle; AQE
    # coalescing hides most but not all of it (iterative operators pay
    # the scheduling floor every round).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write codec: zstd strictly dominated the snappy default in the r15
    # codec A/B (SCALE_PROBE_r15 codec_ab_hundredfold — 24% smaller AND
    # 27% faster scans over identical 60M rows; at object-store
    # bandwidth the gap widens).  Values are codec-independent, so every
    # hash oracle is unaffected; DuckDB reads zstd parquet natively.
    "spark.sql.parquet.compression.codec": "zstd",
}


def session_cores() -> int:
    """Executor-core count for scale-adaptive sizing: ``SPARK_GRAFT_CPUS``
    if set, else the host's CPU count.  The local master, the shuffle
    partitions and the ``cpus`` stamp all use it."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (
        os.cpu_count() or 8
    )


# Lazily-resolved runtime confs (env-dependent; same values get_session uses).
def _runtime_confs() -> dict[str, str]:
    confs = dict(_RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(session_cores())
    confs["spark.sql.files.maxPartitionBytes"] = os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"
    )
    return confs


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (idempotent).

    Note one deliberate bytes-on-disk side effect: this sets
    ``spark.sql.parquet.compression.codec=zstd`` session-wide, so any
    parquet the *host* session writes after ``prepare()`` — not just this
    engine's sink operators — comes out zstd-compressed instead of the
    snappy default.  Values are codec-independent and every mainstream
    reader (Spark 3.2+, DuckDB, pyarrow, Trino, Hive 4) decodes zstd
    natively; a caller that must keep snappy for a legacy reader can
    re-set the conf after ``prepare()`` without affecting this engine's
    correctness (the r15 codec A/B showed zstd only changes size/speed).
    """
    for k, v in _runtime_confs().items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


def get_session(
    app_name: str = "kafkastreaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session tuned for this engine.

    Local default is ``local[session_cores()]``; on a real cluster the
    caller passes its own master/deploy config and these settings still
    apply (AQE re-plans shuffles at runtime, which is the main lever that
    carries a plan from local[32] to 1000 executors).
    """
    cpus = session_cores()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: coalesce small shuffle partitions, split skewed ones, demote/
        # promote join strategies with runtime stats (SURVEY.md §4).
        # SPARK_GRAFT_AQE=false is a debugging/robustness knob: the r13
        # full-inventory sweep runs with it off to prove no key's
        # CORRECTNESS depends on runtime re-planning (AQE is a pure
        # performance layer here, as it must be).
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow transfer for pandas UDFs / toPandas — the only acceptable
        # Python boundary in the hot path (SURVEY.md §3.2c).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Split size sized to the LOCAL bench layout: the sf0.1 tables are
        # single ≤11 MB files, which the 128 MB default packs into ~3 input
        # splits — 32 cores sit idle through every scan.  2 MB splits give
        # the scans real parallelism here (measured: join_smj 0.91→0.58 s).
        # A cluster deployment against 100 TB overrides this back to
        # 128–512 MB via the env var (SCALE.md "Layout and scan path").
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return prepare(spark)
