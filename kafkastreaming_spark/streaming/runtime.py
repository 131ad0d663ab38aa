"""Genuinely-streaming operators, executed via the replay harness
(SURVEY.md §2.9 harness rows + §2.1 source/sink rows).

Every callable here runs a REAL multi-micro-batch Structured Streaming
job (Trigger.AvailableNow over chunked file replay) inside the query and
returns the sink contents as a batch DataFrame.  Since r10 every key is
hash-oracled: the replay is a pure function of (sf_dir, n_chunks,
late_fraction), so each final sink is closed-form in DuckDB SQL — chunk
boundaries by ceil division of the (ts, event_id) order, append-mode
emission horizons from the ms-truncated final watermark (MIN of the two
sides for stream-stream joins).  tests/test_streaming.py additionally
asserts the streaming semantics against batch twins.

Note (r10): Spark 4's ``transformWithStateInPandas`` was probed and is
ENV-BLOCKED here — its StreamingPythonRunner requires ``google.protobuf``
in the Python worker, absent in this sandbox (SURVEY §7.5) — so the
custom-stateful surface stays on ``applyInPandasWithState``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafkastreaming_spark.io import EVENTS_ORACLE_CTE
from kafkastreaming_spark.functions.numeric import dsum, oracle_dsum
from kafkastreaming_spark.registry import query
from kafkastreaming_spark.sources.factory import file_event_stream
from kafkastreaming_spark.streaming.harness import (
    build_once,
    call_scratch,
    drain,
    replay_chunks,
    run_to_memory,
    stream_events,
    write_replay,
)


@query(
    "source_kafka",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_type IN ('click', 'purchase')
    """,
)
def source_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-source design, exercised through the source factory's
    file-replay twin (same schema, same downstream query).

    In production this is ``sources.factory.kafka_event_stream`` —
    format("kafka"), JSON value parsing, maxOffsetsPerTrigger bounding
    each micro-batch.  No connector jar exists in this sandbox
    (SURVEY.md §7.5), so the factory swaps in the file source; the
    downstream projection/filter is source-agnostic.

    Batch-twin oracle (r10, VERDICT r9 item 3): append mode over a
    stateless projection/filter emits every surviving row exactly once
    across the drained replay, so the memory sink equals the plain
    batch filter — no envelope needed, the twin is exact.
    """
    sdf = stream_events(spark, sf_dir, n_chunks=4)
    parsed = sdf.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return run_to_memory(parsed, "append")


@query(
    "sink_memory",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_type,
           COUNT(*) AS n_events,
           {oracle_dsum('value', 'sum_value')}
    FROM events GROUP BY event_type
    """,
)
def sink_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory sink in complete mode over a per-type running count.

    Batch-twin oracle (r10, VERDICT r9 item 3): complete mode REPLACES
    the sink table every micro-batch, so after the replay drains the
    table IS the full-input aggregate — exactly the batch groupBy the
    DuckDB twin computes (decimal-exact sum via the dsum discipline)."""
    sdf = stream_events(spark, sf_dir, n_chunks=4)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )
    return run_to_memory(agg, "complete")


@query(
    "sink_console",
    oracle="""
    WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(COUNT(*) // 2 + 1 AS BIGINT) AS rpc
               FROM main.events)
    SELECT CAST(t.range AS BIGINT) AS batch_id,
           CAST(LEAST(rpc, n - t.range * rpc) AS BIGINT) AS n_rows
    FROM range(2) t, c
    WHERE t.range * rpc < n
    """,
)
def sink_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Console + foreachBatch sinks: run both over the replay stream and
    return the per-micro-batch row counts observed by foreachBatch —
    proof that the stream really arrived in multiple batches.

    Batch-twin oracle (r10, VERDICT r9 item 3): the replay harness
    chunks the ts-sorted events by ceil division (rows_per_chunk = rpc
    = n//2 + 1), SKIPS empty chunks (harness.py), and
    maxFilesPerTrigger=1 maps one non-empty chunk to one batch id in
    file order, so the per-batch counts are closed-form in n: batch i
    exists iff i·rpc < n and carries min(rpc, n − i·rpc).  The oracle
    derives the batch count the same way (WHERE i·rpc < n) instead of
    hardcoding the chunk count, so it holds for ALL n ≥ 1 — at n = 1..2
    the replay genuinely produces fewer chunks and the oracle agrees
    (ADVICE r10: a hardcoded row count diverged there).

    Both halves replay 2 chunks (console since r12, foreachBatch since
    r14 with the oracle's rpc/range moved in lockstep): two
    micro-batches are the minimal multi-batch proof, at half the
    scheduling cost of four."""
    sdf = stream_events(spark, sf_dir, n_chunks=2)
    drain(
        spark,
        sdf.select("event_id", "ts", "event_type", "value")
        .writeStream.format("console")
        .option("numRows", "3")
        .option("truncate", "true"),
        timeout_sec=60,
    )
    batches: list[tuple[int, int]] = []

    def count_batch(batch_df: DataFrame, batch_id: int) -> None:
        batches.append((batch_id, batch_df.count()))

    drain(spark, sdf.writeStream.foreachBatch(count_batch))
    return spark.createDataFrame(
        [(int(b), int(n)) for b, n in batches], "batch_id long, n_rows long"
    )


@query(
    "sink_exactly_once",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_type,
           COUNT(*) AS n_events,
           {oracle_dsum('value', 'sum_value')}
    FROM events GROUP BY event_type
    """,
)
def sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file sink via foreachBatch + idempotent per-batch
    overwrite — the standard recipe when the target (object store, JDBC
    without XA, …) offers no transactional streaming commit.

    Each micro-batch writes to ``batch=<batchId>/`` with mode=overwrite:
    a retried batch (same batchId after failure/restart) REPLACES its own
    previous partial output instead of appending duplicates, which is
    what upgrades at-least-once delivery to exactly-once file contents.
    The key is hash-checked: the read-back of every batch directory must
    aggregate to exactly the batch-table answer — any dropped or doubled
    batch breaks the oracle."""

    sdf = stream_events(spark, sf_dir, n_chunks=4)
    with call_scratch("ks_e1") as out:

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        drain(spark, sdf.writeStream.foreachBatch(write_batch))
        back = spark.read.parquet(out).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
        )
        return back.localCheckpoint(eager=True)  # materialize before cleanup


@query(
    "stream_watermark",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    ordered AS (
      SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ),
    nonlate AS (
      SELECT * FROM ordered
      WHERE NOT (rn >= n // 6 + 1
             AND rn < n // 6 + 1
                      + CAST(FLOOR(CAST(n AS DOUBLE) * 0.02) AS BIGINT))
    ),
    wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 600000) * 1000 AS w
           FROM nonlate),
    wagg AS (
      SELECT (epoch_us(ts) // 300000000) * 300000000 AS ws_us,
             event_type, COUNT(*) AS n_events
      FROM nonlate GROUP BY 1, 2
    )
    SELECT make_timestamp(ws_us) AS window_start, event_type, n_events
    FROM wagg, wm WHERE ws_us + 300000000 <= wm.w
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute watermark + 5-minute tumbling window, APPEND mode, with
    ~2% of rows displaced to arrive days late → they must be dropped.

    Append mode only emits a window once the watermark passes its end;
    the late chunk's rows target long-closed windows and are discarded
    (state for those windows was already evicted).  At 100 TB this
    watermark is exactly what bounds state-store size.

    Batch-twin oracle (r10, VERDICT r9 item 3): the replay is a pure
    function of (sf_dir, 6, 0.02), so the emitted set is closed-form —
    the displaced slice is rows [rpc, rpc + floor(0.02·n)) of the
    (ts, event_id) order (rpc = n//6 + 1); dropped rows never reach
    state (their windows closed long before they arrive), and the final
    emission horizon is the last watermark, max(non-late ts) truncated
    to ms minus 10 min (Spark tracks event-time stats in µs but the
    watermark itself is ms-granular).  Windows whose end passed that
    horizon are exactly the append-mode output after AvailableNow
    drains (the trailing no-data batch flushes the final eviction)."""
    sdf = stream_events(spark, sf_dir, n_chunks=6, late_fraction=0.02)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, "append")


@query(
    "stream_stream_join",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id AS c_user,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 5 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 5 minutes after a click
    by the same user, watermarks on both sides bounding join state.

    The time-range condition lets Spark evict click state once the
    purchase watermark passes click_ts + 5 min — without it,
    stream-stream join state grows unboundedly.

    Batch-twin oracle (r10, VERDICT r9 item 3): the replay arrives in
    (ts, event_id) order, so a matching purchase (ts ≤ click_ts + 5 min)
    always lands while the click's state is still live — the lagging
    10-min watermark cannot pass click_ts + 5 min before every row
    within that horizon has arrived.  Hence the inner join loses
    nothing and the drained sink equals the plain batch interval join,
    exactly."""
    clicks = (
        stream_events(spark, sf_dir, n_chunks=2)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir, n_chunks=2)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("click_id", "purchase_id", "c_user", "click_ts", "purchase_ts", "purchase_value")
    # The trailing no-data batch is skipped because inner-join eviction is
    # output-silent — the sink equals the batch twin with or without it
    # (drain docstring; pinned in tests/test_streaming.py).
    # 2-chunk replay (r14): per-batch state-store commits across 4 join
    # stores dominate; halving batches halves them (4.1 -> 2.0 s at
    # sf0.1) and the emitted set is chunk-independent (row-count-equal
    # swept at 1/2/4 chunks), while 2 data chunks keep cross-batch join
    # state live (batch-1 clicks match batch-2 purchases).
    return run_to_memory(joined, "append", no_data_batches=False)


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)
_STATEFUL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _running_user_agg(key, pdf_iter, state: GroupState):
    """Explicit per-user running (count, exact-cents sum) state — emits
    the running totals once per micro-batch the user appears in.  Cents
    are int64 so cross-batch accumulation order can't perturb floats
    (the ts_cusum/dsum discipline, applied to state)."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        # half-AWAY-from-zero like DuckDB's ROUND (pandas .round() is
        # banker's half-to-even — the two disagree whenever value*100
        # lands exactly on .5 in IEEE double; ADVICE r10).  Compare the
        # fractional part instead of adding 0.5: the +0.5 addition can
        # itself round up across the boundary (p=0.49999999999999994 →
        # p+0.5 == 1.0 in IEEE double, giving 1 where ROUND gives 0;
        # ADVICE r11).  p−floor(p) is exact for every non-negative
        # double (Sterbenz for p≥1, trivially for p<1), so this is
        # bit-exact half-away on ALL inputs, not just the money grid.
        p = (pdf["value"] * 100).to_numpy()
        f = np.floor(p)
        cents += int((f + (p - f >= 0.5)).astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "cents": [cents]})


@query(
    "stream_stateful",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState running per-user
    aggregate.  Returns the FINAL state per user (latest emission).

    Batch-twin oracle (r10, VERDICT r9 item 3): every replay chunk
    drains under AvailableNow, so each user's final emission carries the
    totals over ALL their events — exactly the batch groupBy.  State
    accumulates exact integer cents (not floats), so the cross-batch
    addition order is immaterial and the DuckDB twin matches hash-exact;
    sum_value is derived from cents by one shared IEEE divide.

    At 100 TB: state is partitioned by user across executors (RocksDB
    state store), and the same processor runs unchanged; the emitted
    update stream feeds a changelog sink.

    Replay at 2 chunks (r14, VERDICT r13 item 2): the residual cost of
    the Python-stateful pair is per-(batch×partition) Arrow round trips
    into the state worker, so fewer, larger micro-batches halve it
    (5.9 → 2.9 s at sf0.1; Arrow maxRecordsPerBatch swept flat at
    10k/50k/200k).  Two data chunks keep the cross-batch state
    accumulation the key exists to demonstrate (state written in batch
    1 is read+updated in batch 2); the batch-twin oracle is closed-form
    in n_chunks, so the variant stays hash-checked."""
    sdf = stream_events(spark, sf_dir, n_chunks=2)
    updates = sdf.groupBy("user_id").applyInPandasWithState(
        _running_user_agg,
        outputStructType=_STATEFUL_OUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(updates, "update")
    # final state per user = emission with the highest running count
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        emitted.withColumn("rn", w)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            "cents",
            (F.col("cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


@query(
    "stream_late_update",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    ordered AS (
      SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ),
    ch AS (
      SELECT rn // (n // 2 + 1) AS chunk,
             (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us
      FROM ordered
    ),
    wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 600000) * 1000 AS w
           FROM events)
    SELECT 'append' AS output_mode,
           CAST((SELECT COUNT(DISTINCT ws_us) FROM ch, wm
                 WHERE ws_us + 3600000000 <= wm.w) AS BIGINT) AS emitted_rows
    UNION ALL
    SELECT 'update',
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT chunk, ws_us FROM ch))
                AS BIGINT)
    UNION ALL
    SELECT 'complete',
           CAST((SELECT COUNT(DISTINCT ws_us) FROM ch) AS BIGINT)
    """,
)
def stream_late_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode semantics: the same windowed count run in append,
    update, and complete modes; returns per-mode emitted-row counts.

    append < update < complete row volumes demonstrate the mode
    semantics (finalized-only vs changed-only vs full-table).

    Batch-twin oracle (r10, VERDICT r9 item 3): the deterministic
    chunked replay makes each count closed-form — complete's final
    table holds every distinct 60-min window; update's memory sink
    accumulates one row per (micro-batch, window-touched-in-it), i.e.
    COUNT(DISTINCT (chunk, window)) over chunk = rn div (n//2 + 1) of
    the (ts, event_id) order; append holds windows whose end passed the
    final ms-granular watermark max(ts) − 10 min.

    2-chunk replay (r14): this key pays THREE full lifecycles, so the
    per-batch scheduling/commit floor triples; halving batches is the
    only lever left after the r12 shuffle sweep.  Unlike the join/
    stateful keys the oracle here is chunk-PARAMETERIZED (update mode
    counts (chunk, window) pairs), so the SQL moved in lockstep; the
    ts-ordered split lands mid-hour, so windows still span the chunk
    boundary and update > complete keeps demonstrating the mode
    difference."""
    from concurrent.futures import ThreadPoolExecutor

    def agg_for(mode: str):
        sdf = stream_events(spark, sf_dir, n_chunks=2)
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "60 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    # Only APPEND needs the trailing no-data batch (it flushes the final
    # evictions the mode's output is defined by); update-mode eviction
    # emits nothing and complete re-emits the identical table (r13).
    def run(mode: str) -> int:
        return run_to_memory(
            agg_for(mode), mode, no_data_batches=mode == "append"
        ).count()

    counts = {"append": run("append")}
    # r17 (guide §2.6 overlap independent jobs): update and complete are
    # independent lifecycles (separate checkpoints/sinks), so they run
    # concurrently; each query captures its confs at start.  A/B 3/3
    # pairs faster, median ratio 0.78.
    # each lifecycle runs under its own copy of the caller's local
    # properties, so its jobs carry the caller's job group
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = {
            m: pool.submit(inheritable_thread_target(spark)(run), m)
            for m in ("update", "complete")
        }
        for m, f in futs.items():
            counts[m] = f.result()

    rows = [(m, counts[m]) for m in ("append", "update", "complete")]
    return spark.createDataFrame(rows, "output_mode string, emitted_rows long")


@query(
    "stream_stream_outer",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    wmc AS (SELECT MAX(epoch_us(ts)) // 1000 - 600000 AS w
            FROM events WHERE event_type = 'click'),
    wmp AS (SELECT MAX(epoch_us(ts)) // 1000 - 600000 AS w
            FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST(wmc.w, wmp.w) * 1000 AS w FROM wmc, wmp),
    clicks AS (SELECT event_id AS click_id, user_id AS c_user,
                      ts AS click_ts, epoch_us(ts) AS c_us
               FROM events WHERE event_type = 'click'),
    pur AS (SELECT event_id AS purchase_id, user_id,
                   ts AS purchase_ts, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT c.click_id, c.c_user, c.click_ts, p.purchase_id, p.purchase_ts
      FROM clicks c JOIN pur p
        ON c.c_user = p.user_id
       AND p.p_us > c.c_us AND p.p_us <= c.c_us + 300000000
    )
    SELECT click_id, c_user, click_ts, purchase_id, purchase_ts FROM m
    UNION ALL
    SELECT c.click_id, c.c_user, c.click_ts,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS TIMESTAMP) AS purchase_ts
    FROM clicks c, wm
    WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
      AND c.c_us + 300000000 < wm.w
    """,
)
def stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the inner
    join (``stream_stream_join``) cannot express: every click row is
    emitted, with its within-5-minutes purchase when one exists and
    NULL padding once the watermark PROVES no match can still arrive.
    That proof is the whole point: outer results are only correct
    because the purchase-side watermark eventually passes
    click_ts + 5 min, at which point Spark both evicts the click state
    AND emits the unmatched row — outer join without a watermark-bounded
    range condition is rejected by the engine.

    Batch-twin oracle (r10, VERDICT r9 item 3): matched pairs equal the
    batch interval join (same no-loss argument as the inner key); the
    NULL-padded set is exactly the unmatched clicks whose
    click_ts + 5 min horizon fell below the FINAL global watermark —
    the MIN of the two sides' ms-granular watermarks (Spark's
    multipleWatermarkPolicy default; probed r10: max purchase ts <
    max click ts here, so the purchase side governs, and exactly one
    near-horizon click stays unemitted vs the single-watermark model).
    Clicks still inside the horizon are absent by design — emitting
    them would claim an absence of matches the watermark has not yet
    proven.  At 100 TB state is bounded by the watermark horizon per
    side, exactly as the inner variant."""
    clicks = (
        stream_events(spark, sf_dir, n_chunks=2)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir, n_chunks=2)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")
        ),
        "leftOuter",
    ).select(
        "click_id", "c_user", "click_ts", "purchase_id", "purchase_ts"
    )
    # The no-data batch STAYS — outer join eviction EMITS the null-padded
    # unmatched clicks, so the trailing watermark advance is part of the
    # result, not overhead.
    # 2-chunk replay (r14, same argument as the inner key): the
    # null-pad set depends only on the FINAL min-of-sides watermark,
    # so the emitted set is chunk-independent (row-count-equal swept
    # at 1/2/4 chunks; 4.0 -> 2.7 s at sf0.1).
    return run_to_memory(joined, "append")


_SESS_GAP_US = 30 * 60 * 1_000_000
_SESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)
_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _session_ttl_fn(key, pdf_iter, state: GroupState):
    """Per-user gap sessionization with EVICTION: closed sessions emit
    immediately; the open tail lives in state with an event-time timeout
    at last_seen + 30 min — when the watermark passes it, the session is
    emitted and its state REMOVED (hasTimedOut branch)."""
    uid = key[0]
    if state.hasTimedOut:
        s, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [uid],
                "session_start_us": [s],
                "session_end_us": [last],
                "n_events": [n],
            }
        )
        return
    batches = [pdf for pdf in pdf_iter if len(pdf)]
    rows = pd.concat(batches) if batches else pd.DataFrame(columns=["ts", "event_id"])
    rows = rows.sort_values(["ts", "event_id"])
    ts_us = (rows["ts"].astype("int64") // 1000).to_list()
    cur = tuple(state.get) if state.exists else None
    closed = []
    for t in ts_us:
        if cur is None:
            cur = (t, t, 1)
        elif t - cur[1] > _SESS_GAP_US:
            closed.append(cur)
            cur = (t, t, 1)
        else:
            cur = (cur[0], t, cur[2] + 1)
    if cur is not None:
        state.update(cur)
        # EventTimeTimeout takes epoch MILLIS; fires when the watermark
        # passes the open session's gap horizon
        state.setTimeoutTimestamp(cur[1] // 1000 + 30 * 60 * 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "session_start_us": [c[0] for c in closed],
                "session_end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


@query(
    "stream_session_ttl",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    e2 AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rid,
             CASE WHEN lag(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    e3 AS (SELECT *, SUM(new_s) OVER
             (PARTITION BY user_id ORDER BY us, rid) AS sid FROM e2),
    sess AS (
      SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us,
             COUNT(*) AS n
      FROM e3 GROUP BY user_id, sid
    ),
    wm AS (SELECT (MAX(epoch_us(ts)) // 1000 - 600000) * 1000 AS w
           FROM events),
    lastsid AS (SELECT user_id, MAX(sid) AS msid FROM sess GROUP BY user_id)
    SELECT s.user_id,
           CAST(s.s_us AS BIGINT) AS session_start_us,
           CAST(s.e_us AS BIGINT) AS session_end_us,
           CAST(s.n AS BIGINT) AS n_events
    FROM sess s JOIN lastsid l USING (user_id), wm
    WHERE s.sid < l.msid OR s.e_us + 1800000000 < wm.w
    """,
)
def stream_session_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization WITH STATE EVICTION — the §2.9
    surface the plain ``stream_stateful`` key (NoTimeout, state grows
    with the key space) deliberately does not show: per-user gap
    sessions (30-min idle) via ``applyInPandasWithState`` +
    ``EventTimeTimeout``, where the open session's state carries a
    timeout at last_seen + 30 min and the watermark passing it both
    EMITS the closed session and REMOVES the state.

    This eviction is the whole reason custom stateful ops survive
    100 TB: without timeouts every user ever seen stays in the state
    store forever; with them, state size is bounded by the number of
    users active inside one watermark horizon.

    Batch-twin oracle (r10, VERDICT r9 item 3): ts-ordered replay makes
    the emitted set closed-form — every session closed BY A GAP (i.e.
    any session that is not its user's last: the closing event arrives
    in some batch and emits it immediately), plus the per-user OPEN
    TAIL sessions whose timeout horizon (last event + 30 min) fell
    strictly below the final ms-granular watermark max(ts) − 10 min
    (the trailing no-data batch fires those EventTimeTimeouts).  Open
    tails still inside the horizon stay in state, unemitted, by design.
    The gaps-and-islands SQL reproduces the exact session bounds since
    global ts order equals arrival order (no late rows here).

    Replay at 2 chunks (r14, VERDICT r13 item 2): per-(batch×partition)
    Arrow round trips dominate this key, so halving the micro-batch
    count cuts it 9.2 → 5.9 s at sf0.1 on the builder box (≈4 s
    driver-normalized).  Two data chunks preserve the cross-batch
    contract: sessions span batches, timeouts set in batch N fire on
    later watermark advances, and the closed-form oracle is independent
    of n_chunks (every emitted session is either gap-closed — its
    closer drains in SOME batch — or tail-timed-out by the final
    watermark, which depends only on max(ts))."""
    sdf = stream_events(spark, sf_dir, n_chunks=2)
    closed = (
        sdf.withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_ttl_fn,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # Fleet default 8 state partitions: the r12 16-partition optimum was
    # specific to 4 chunks (more Arrow workers amortized more batches);
    # at 2 chunks the r14 sweep has 8 ahead (5.95 s vs 6.19 at 16,
    # 7.86 at 4, 7.95 at 32 — fewer per-batch state-store commits win
    # once the batch count is down).
    return run_to_memory(closed, "append")


@query(
    "stream_checkpoint_restart",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_type,
           COUNT(*) AS n_events,
           {oracle_dsum('value', 'sum_value')}
    FROM events GROUP BY event_type
    """,
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-recovery contract: the SAME streaming query run as TWO
    separate query lifetimes against one checkpoint — first over half
    the replay chunks, then restarted after more chunks arrive — must
    produce exactly the batch answer, no rows lost (offsets resume
    where the first run committed) and none double-counted (committed
    batches replay idempotently via the per-batch overwrite sink).

    This is the sink_exactly_once discipline under an actual RESTART:
    run 1 sees a source directory holding chunks 0–1 (AvailableNow
    drains it and stops — a planned shutdown); chunks 2–3 are then
    dropped in, and run 2 starts from the same checkpointLocation.
    The file-source offset log records which files run 1 committed, so
    run 2 processes ONLY the new arrivals.  Hash-checked: the read-back
    of every batch directory must aggregate to the exact batch-table
    answer — a lost offset, a re-read file, or a dropped batch all
    break the oracle.  At 100 TB this is the nightly-restart /
    crash-recovery path every production stream exercises; checkpoint
    to object storage, same semantics."""

    src_all = replay_chunks(sf_dir, n_chunks=4)
    chunks = sorted(f for f in os.listdir(src_all) if f.endswith(".parquet"))
    with call_scratch("ks_ckptr") as base:
        src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
        os.makedirs(src)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        def run() -> None:
            drain(
                spark,
                file_event_stream(spark, src).writeStream.foreachBatch(write_batch),
                checkpoint=ckpt,
            )

        for f in chunks[:2]:
            shutil.copy(os.path.join(src_all, f), os.path.join(src, f))
        run()  # run 1: commits offsets for chunks 0-1, then stops
        for f in chunks[2:]:
            shutil.copy(os.path.join(src_all, f), os.path.join(src, f))
        run()  # run 2: same checkpoint -> processes ONLY new files
        back = spark.read.parquet(out).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
        )
        return back.localCheckpoint(eager=True)  # materialize before cleanup


@query(
    "stream_state_reader",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE STATE-STORE AUDIT via the State Data Source
    (``spark.read.format("statestore")``, Spark 3.5+): run a stateful
    per-type count+cents aggregation stream to completion over the
    chunked replay, then read the query's checkpoint STATE FILES —
    not its sink — and hash-check the recovered state against the
    batch aggregate oracle.

    This is the production debugging surface for "what does my
    streaming job believe right now": state rows are (grouping key,
    aggregation buffer, partition_id) read straight from the HDFS
    state store, the thing you inspect when a running aggregation
    drifts or a checkpoint must be audited before a risky restart.
    Equality with the batch oracle proves end-to-end state integrity:
    every replay chunk incorporated exactly once, no partial buffer
    lost, the buffer encoding round-tripping through the store.  All
    state values are exact ints (count + cents).  At 100 TB the state
    source reads each store shard in parallel, one task per state
    partition — the same layout the stream itself maintains."""

    sdf = stream_events(spark, sf_dir, n_chunks=4)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    with call_scratch("ks_ckpt_streader") as ckpt:
        # the sink is irrelevant here — the key reads the state files
        drain(
            spark,
            agg.writeStream.format("noop").outputMode("complete"),
            checkpoint=ckpt,
        )
        state = spark.read.format("statestore").load(ckpt)
        # state value fields carry the INTERNAL aggregation-buffer names
        # (count/sum), not the query aliases — part of what this key pins
        return state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
            F.col("value.sum").cast("long").alias("cents"),
        ).localCheckpoint(eager=True)  # materialize before cleanup


@query(
    "stream_listener_metrics",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    n AS (SELECT COUNT(*) AS n FROM events),
    b AS (SELECT unnest(generate_series(0, 3)) AS batch_id)
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(LEAST(n // 4 + 1, n - batch_id * (n // 4 + 1)) AS BIGINT)
             AS num_input_rows
    FROM b, n
    WHERE n - batch_id * (n // 4 + 1) > 0
    """,
)
def stream_listener_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY via StreamingQueryListener — the hook
    every lag/throughput dashboard and SLO alert hangs off: a Python
    listener receives QueryProgress events asynchronously and this key
    re-emits the per-micro-batch (batch_id, numInputRows) trail as a
    DataFrame.

    Hash-checkable because the replay harness makes batch boundaries
    deterministic: maxFilesPerTrigger=1 over 4 arrival-ordered chunks
    of ceil-division size, so the oracle recomputes the batch sizes in
    closed form from COUNT(*) alone — a dropped batch, a merged
    trigger, or listener event loss all break the hash.  The listener
    is registered for exactly this query's lifetime and removed in a
    finally block (listeners are session-global; leaking one would
    double-count every later streaming key).  At 100 TB this listener
    is the backpressure signal: numInputRows vs trigger interval IS
    the consumer-lag metric Kafka dashboards chart."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    got: list[tuple[int, int]] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            got.append((p.batchId, p.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        run_to_memory(stream_events(spark, sf_dir, n_chunks=4))
        # progress events are ASYNC; poll briefly for the full trail
        for _ in range(40):
            if len({b for b, _ in got}) >= 4:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    rows = sorted({(int(b), int(r)) for b, r in got if r > 0})
    return spark.createDataFrame(
        rows, "batch_id long, num_input_rows long"
    )


@query(
    "stream_foreach_upsert",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    latest AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_type, cents AS last_cents
    FROM latest WHERE rn = 1
    """,
)
def stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC APPLY loop via foreachBatch: each micro-batch
    upserts its newest row per user into a materialized keyed snapshot
    (read current version → merge → keep latest by (ts, event_id) →
    write NEXT version) — the read-modify-write merge every
    changelog-to-table pipeline runs when the sink has no native MERGE
    (object stores, plain parquet lakes).

    Versioned directories (v0, v1, …) make each apply ATOMIC: a batch
    never overwrites the snapshot it is reading (lazy scans + in-place
    overwrite corrupt), and a retried batch rewrites its own version —
    idempotent, the sink_exactly_once contract extended with state.

    The hash oracle is the BATCH latest-per-user over the whole table:
    a dropped batch, an upsert that kept a stale row, or a tie broken
    differently all change the final snapshot.  Complements
    stream_upsert_compact (one-shot compaction of a complete changelog)
    — here the table is maintained INCREMENTALLY across batches.

    Scale: per batch the work is one window over batch∪snapshot keyed
    by user — at 100 TB the snapshot join prunes to keys present in
    the batch (merge-on-read layouts) and versions compact in the
    background; the apply loop's shape is unchanged."""

    sdf = stream_events(spark, sf_dir, n_chunks=4)
    state: dict = {"path": None}
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    with call_scratch("ks_upsert") as base:

        def apply_batch(bdf: DataFrame, batch_id: int) -> None:
            newest = (
                bdf.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            if state["path"] is not None:
                prev = bdf.sparkSession.read.parquet(state["path"])
                newest = (
                    prev.unionByName(newest)
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .drop("rn")
                )
            out = os.path.join(base, f"v{batch_id}")
            newest.write.mode("overwrite").parquet(out)
            state["path"] = out

        drain(spark, sdf.writeStream.foreachBatch(apply_batch))
        snap = spark.read.parquet(state["path"]).select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round(F.col("value") * 100).cast("bigint").alias("last_cents"),
        )
        return snap.localCheckpoint(eager=True)


@query(
    "stream_rocksdb_state",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming on the ROCKSDB state store provider — the
    large-state backend (spill-to-disk SST files, incremental
    changelog checkpointing) that replaces the default in-memory
    HashMap provider once keyed state outgrows executor heap; at 100 TB
    of events a per-key aggregation holds millions of state rows per
    partition, which is exactly what RocksDB's out-of-heap LSM handles
    and the default provider OOMs on.

    The full events replay runs the per-type count+cents aggregation
    through micro-batches with the provider flipped to RocksDB for
    EXACTLY this query (a lifecycle conf: the shared session never holds
    it past the query's start — other streaming keys keep their default
    provider), and the final complete
    state is hash-checked against the batch oracle: state encode/decode
    through RocksDB must change NOTHING.

    Exact ints only (count + cent sums) — the state round-trip is
    byte-faithful by construction."""
    # r17: changelog checkpointing is RocksDB's incremental-checkpoint
    # mode (commit uploads the batch's changelog instead of snapshotting
    # SST files every commit) — the setting this key's docstring already
    # names as the at-scale story; off by default in Spark 4.  State
    # contents are identical (replayed on recovery); A/B 3/3 pairs
    # faster locally (medians 2.55 -> 2.31 s).
    rocks = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    sdf = stream_events(spark, sf_dir, n_chunks=4)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("long")
        .alias("cents"),
    )
    out = run_to_memory(agg, output_mode="complete", confs=rocks)
    return out.localCheckpoint(eager=True)


# chunks of the replay that _ddww_chunks re-delivers from
_DUP_REPLAY_CHUNKS = 4


def _ddww_chunks(sf_dir: str) -> str:
    """The :data:`_DUP_REPLAY_CHUNKS`-chunk replay PLUS a trailing chunk
    of true duplicate deliveries: every event_id ≡ 0 (mod 7) from the
    FIRST chunk (state long expired by arrival) and from the LAST chunk
    (state still live) is delivered a second time, byte-identical,
    after all originals."""
    return build_once(
        f"ks_ddww_{os.path.basename(sf_dir.rstrip('/'))}_{_DUP_REPLAY_CHUNKS}",
        lambda out: _write_ddww(
            replay_chunks(sf_dir, n_chunks=_DUP_REPLAY_CHUNKS), out
        ),
    )


def _write_ddww(base_dir: str, out: str) -> None:
    chunks = {
        f: pq.read_table(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    }
    names = sorted(chunks)
    ends = pa.concat_tables([chunks[names[0]], chunks[names[-1]]])
    ids = ends.column("event_id")
    # every event_id ≡ 0 (mod 7) of the first and the last chunk, again;
    # write_replay's mtime stamps deliver this file after every original
    # (a scrambled order would deliver early originals below the
    # watermark and drop them as late)
    chunks["chunk_999_dup.parquet"] = ends.filter(
        pc.equal(pc.multiply(pc.divide(ids, 7), 7), ids)
    )
    write_replay(out, chunks)


@query(
    "stream_dedup_watermark",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_id, user_id, ts, event_type, value FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under TRUE duplicate delivery —
    the at-least-once→exactly-once repair stage in front of every Kafka
    topic whose producer retries.  Unlike the batch-twin ``stream_dedup``
    key, this runs the real streaming operator through a real lifecycle
    with real duplicates and exercises BOTH suppression paths:

    * recent duplicates (re-delivery of last-chunk rows, event time
      within the 10-min delay of the final watermark) hit LIVE dedup
      state and are suppressed by the state lookup — the operator's
      advertised path;
    * ancient duplicates (re-delivery of first-chunk rows, event time
      far below the watermark by arrival) are dropped by the late-row
      filter BEFORE the state lookup — probed empirically (r12): an
      expired-state duplicate is NOT re-emitted, because the same
      watermark that evicted its state also classifies its re-delivery
      as too late.  That coupling is exactly why the operator's state
      stays bounded at 100 TB without reintroducing duplicates: a key's
      state may be dropped only once every row that could duplicate it
      is already outside the watermark.

    Output is therefore the distinct originals — closed-form, the
    whole-table oracle — despite 2/7 of first+last-chunk rows arriving
    twice.  Duplicate set: event_id ≡ 0 (mod 7) of chunks 1 and 4,
    re-delivered byte-identical in a trailing 5th micro-batch
    (``_ddww_chunks``).  State sizing: watermark horizon bounds live
    keys exactly as stream_session_ttl's eviction argument."""
    chunk_dir = _ddww_chunks(sf_dir)
    sdf = (
        file_event_stream(spark, chunk_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    # dropDuplicatesWithinWatermark emits first-seen rows AT ARRIVAL
    # (both suppression paths act on the incoming row, batch 5 here);
    # the trailing no-data batch only evicts state, emitting nothing —
    # skip it (drain docstring, r13).
    out = run_to_memory(sdf, "append", no_data_batches=False)
    return out.select("event_id", "user_id", "ts", "event_type", "value")
