"""Custom connector via the Python DataSource API (Spark 4, SPIP
SPARK-44076) — the extension point a user reaches for when the source
isn't one of the built-in formats: internal REST feeds, proprietary
binary logs, synthetic load generators.  ``ks_sensor`` is a
deterministic sensor-log generator: every (sensor, reading) cell is a
pure integer function of its coordinates, so the scan is reproducible,
partition-order-free, and hash-checkable against a closed-form SQL
oracle — the same discipline as every other source key.

Scale shape: ``partitions()`` splits the sensor space into 8 input
partitions (one Python worker each, Arrow-batched back to the JVM); a
real connector would map partitions to Kafka topic-partitions / file
splits / shard ranges exactly the same way, which is what makes the
API cluster-parallel rather than a driver-side iterator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from kafkastreaming_spark.io import EVENTS_ORACLE_CTE
from kafkastreaming_spark.registry import query
from kafkastreaming_spark.streaming.harness import call_scratch, drain, stream_events

_N_SENSORS = 64
_N_READINGS = 1000
_N_PARTS = 8


class _SensorPartition(InputPartition):
    def __init__(self, part_id: int):
        self.part_id = part_id


class _SensorReader(DataSourceReader):
    def __init__(self, options):
        self.n_sensors = int(options.get("n_sensors", _N_SENSORS))
        self.n_readings = int(options.get("n_readings", _N_READINGS))

    def partitions(self):
        return [_SensorPartition(i) for i in range(_N_PARTS)]

    def read(self, partition):
        # each partition owns the sensors congruent to its id mod
        # _N_PARTS — a shard-range split, the way a real connector
        # would map Kafka partitions or file splits
        for sensor_id in range(partition.part_id, self.n_sensors, _N_PARTS):
            for reading_no in range(self.n_readings):
                yield (
                    sensor_id,
                    reading_no,
                    (sensor_id * 7919 + reading_no * 104729) % 40000 - 10000,
                )


class SensorDataSource(DataSource):
    """spark.read.format("ks_sensor") — deterministic integer sensor log."""

    @classmethod
    def name(cls):
        return "ks_sensor"

    def schema(self):
        return "sensor_id bigint, reading_no bigint, temp_milli bigint"

    def reader(self, schema):
        return _SensorReader(self.options)


@query(
    "source_python_ds",
    oracle=f"""
    WITH raw AS (
      SELECT s.sensor_id, r.reading_no,
             (s.sensor_id * 7919 + r.reading_no * 104729) % 40000 - 10000
               AS temp_milli
      FROM (SELECT unnest(generate_series(0, {_N_SENSORS - 1})) AS sensor_id) s,
           (SELECT unnest(generate_series(0, {_N_READINGS - 1})) AS reading_no) r
    )
    SELECT sensor_id,
           CAST(COUNT(*) AS BIGINT) AS n_readings,
           CAST(SUM(temp_milli) AS BIGINT) AS sum_temp_milli,
           MIN(temp_milli) AS min_temp_milli,
           MAX(temp_milli) AS max_temp_milli,
           CAST(SUM(CASE WHEN temp_milli > 20000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot
    FROM raw GROUP BY sensor_id
    """,
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python DataSource and reduce to a
    per-sensor health summary — count / exact milli-degree sum / range
    / hot-reading count.  All values are pure int64 closed forms of the
    row coordinates, so the oracle recomputes them from
    generate_series without ever seeing the connector.  The sf_dir is
    deliberately unused: the key checks the CONNECTOR surface, not a
    fixture table."""
    del sf_dir
    # idempotent: re-registering simply replaces the prior mapping
    spark.dataSource.register(SensorDataSource)
    raw = spark.read.format("ks_sensor").load()
    return raw.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temp_milli").cast("long").alias("sum_temp_milli"),
        F.min("temp_milli").alias("min_temp_milli"),
        F.max("temp_milli").alias("max_temp_milli"),
        F.sum(F.when(F.col("temp_milli") > 20000, 1).otherwise(0))
        .cast("long")
        .alias("n_hot"),
    )


_FEED_MAX = 5000
_FEED_BATCH = 2500


class _FeedReader(SimpleDataSourceStreamReader):
    """Offset-based micro-batch reader: the Kafka shape (monotone
    integer offsets, bounded fetch per poll, replayable range reads)
    without the Kafka jar this environment lacks."""

    def __init__(self, options):
        self.max_offset = int(options.get("max_offset", _FEED_MAX))
        self.batch = int(options.get("batch", _FEED_BATCH))

    def initialOffset(self):
        return {"offset": 0}

    @staticmethod
    def _rows(s: int, e: int):
        return iter(
            [(i, i % 8, (i * 7919 + 13) % 100000) for i in range(s, e)]
        )

    def read(self, start):
        s = start["offset"]
        e = min(s + self.batch, self.max_offset)
        if s >= e:
            return iter([]), start
        return self._rows(s, e), {"offset": e}

    def readBetweenOffsets(self, start, end):
        # failure replay: a committed-but-unprocessed range must be
        # reproducible exactly — same contract as Kafka offset ranges
        return self._rows(start["offset"], end["offset"])


class FeedDataSource(DataSource):
    """spark.readStream.format("ks_feed") — deterministic offset feed."""

    @classmethod
    def name(cls):
        return "ks_feed"

    def schema(self):
        return "seq bigint, bucket bigint, payload bigint"

    def simpleStreamReader(self, schema):
        return _FeedReader(self.options)


@query(
    "source_python_stream",
    oracle=f"""
    WITH raw AS (
      SELECT g AS seq, g % 8 AS bucket,
             (g * 7919 + 13) % 100000 AS payload
      FROM (SELECT unnest(generate_series(0, {_FEED_MAX - 1})) AS g)
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(payload) AS BIGINT) AS sum_payload,
           MIN(seq) AS min_seq,
           MAX(seq) AS max_seq
    FROM raw GROUP BY bucket
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STREAMING CONNECTOR through the Python DataSource
    streaming API (SimpleDataSourceStreamReader) — the offset-based
    source shape Kafka ingestion needs, hosted entirely in Python
    because this environment has no Kafka jar (SURVEY §7.5): monotone
    offsets, bounded fetch per micro-batch, replayable
    ``readBetweenOffsets`` for failure recovery.

    The key drives the full exactly-once loop, not just one poll: each
    ``availableNow`` run consumes the one prefetched batch, then the
    query RESTARTS on the same checkpoint and resumes from the
    committed offset.  The drain loop stops when the committed
    endOffset reaches the feed's known high-watermark — the Kafka
    consume-to-``endOffsets()`` pattern (r12: this replaces the extra
    zero-row probe lifecycle, which proved nothing the hash doesn't —
    any missing, duplicated, or EXTRA row breaks the exact per-bucket
    sums; a zero-row fallback break remains for safety).  Rows land
    exactly once across restarts (pytest-pinned: no seq duplicates),
    so the final per-bucket rollup is hash-checked against the
    closed-form oracle — a dropped batch, re-read range, or lost
    offset all break the hash.  At 100 TB this is precisely the
    Kafka→lake ingestion contract: offsets in the checkpoint, the
    sink idempotent per batch, restart-safe by construction.  Cost is
    the contract: wall time here is N_restarts × micro-batch query
    lifecycle (~1.5 s each on this box), not row volume."""
    import ast
    import os

    del sf_dir
    spark.dataSource.register(FeedDataSource)
    with call_scratch("ks_feed") as base:
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        for _ in range(8):  # bounded: ceil(MAX/BATCH) restart-resume runs
            q = drain(
                spark,
                spark.readStream.format("ks_feed")
                .load()
                .writeStream.format("parquet")
                .option("path", out),
                checkpoint=ckpt,
            )
            # drain proof from the query's own progress metrics — a sink
            # re-count would cost one extra job per restart
            lp = q.lastProgress
            if lp is None or lp["numInputRows"] == 0:
                break
            end = ast.literal_eval(lp["sources"][0]["endOffset"])
            if end["offset"] >= _FEED_MAX:
                break  # caught up to the high-watermark: drained
        df = spark.read.parquet(out)
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n_msgs"),
            F.sum("payload").cast("long").alias("sum_payload"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
        ).localCheckpoint(eager=True)  # materialize before cleanup


class _JsonlCommitMessage(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class _JsonlStreamWriter(DataSourceStreamWriter):
    """Two-phase-commit JSONL sink: each task writes a TEMP file and
    returns its path as the commit message; the driver's ``commit``
    renames winners into place (atomic on a POSIX dir) and ``abort``
    deletes losers — so a failed/retried task can never leave a
    half-visible file.  This is the same staging-then-rename protocol
    every object-store committer implements."""

    def __init__(self, options):
        self.outdir = options.get("outdir")

    def write(self, iterator):
        import json
        import os
        import tempfile

        n = 0
        fd, tmp = tempfile.mkstemp(".jsonl", "_tmp_", self.outdir)
        with os.fdopen(fd, "w") as f:
            for r in iterator:
                f.write(
                    json.dumps({"event_id": r.event_id, "cents": r.cents})
                    + "\n"
                )
                n += 1
        return _JsonlCommitMessage(tmp, n)

    def commit(self, messages, batchId):
        import os

        for i, m in enumerate(messages):
            if m is None:
                continue
            if m.n:
                os.rename(
                    m.path,
                    os.path.join(
                        self.outdir, f"batch_{batchId:05d}_{i:04d}.jsonl"
                    ),
                )
            else:
                os.remove(m.path)

    def abort(self, messages, batchId):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonlSinkDataSource(DataSource):
    """writeStream.format("ks_jsonl_sink") — Python custom sink."""

    @classmethod
    def name(cls):
        return "ks_jsonl_sink"

    def streamWriter(self, schema, overwrite):
        return _JsonlStreamWriter(self.options)


@query(
    "sink_python_stream",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events
    """,
)
def sink_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STREAMING SINK through the Python DataSource writer API
    (DataSourceStreamWriter) — the other half of the connector story
    source_python_stream tells: per-task staged writes, driver-side
    ``commit`` renaming winners into place, ``abort`` deleting losers —
    the two-phase protocol that makes a JDBC/object-store/webhook sink
    exactly-once under task retries.

    The full events replay streams through the sink (4 chunks,
    availableNow), the committed JSONL files are read BACK, and the
    global rollup is hash-checked against the raw events oracle — a
    torn file, double-committed task, or dropped batch all break the
    hash.  Values are exact ints (event_id, cents).  At 100 TB the
    staged-rename pattern is exactly what DBIO/magic committers do;
    per-batch output visibility is atomic at the driver commit."""
    import os

    spark.dataSource.register(JsonlSinkDataSource)
    # 2 chunks: multi-batch commit protocol demonstrated at half the
    # micro-batch scheduling cost of the default 4-chunk replay
    sdf = stream_events(spark, sf_dir, n_chunks=2).select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    with call_scratch("ks_pysink") as base:
        outdir = os.path.join(base, "out")
        os.makedirs(outdir)
        drain(
            spark, sdf.writeStream.format("ks_jsonl_sink").option("outdir", outdir)
        )
        back = spark.read.schema("event_id long, cents long").json(
            os.path.join(outdir, "batch_*.jsonl")
        )
        return back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        ).localCheckpoint(eager=True)  # materialize before cleanup
