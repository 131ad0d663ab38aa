"""Streaming-semantics tests (SURVEY.md §5.2 layer 3).

The rows-only streaming keys have no SQL oracle; these tests pin their
semantics against batch twins over the same events table.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.io import load_table
from kafkastreaming_spark.sources.factory import EVENT_SCHEMA
from kafkastreaming_spark.streaming.harness import replay_chunks


def test_source_kafka_file_twin_rowcount(spark, sf_dir):
    out = QUERIES["source_kafka"](spark, sf_dir)
    expected = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    assert out.count() == expected


def test_sink_memory_complete_equals_batch(spark, sf_dir):
    out = {r["event_type"]: r for r in QUERIES["sink_memory"](spark, sf_dir).collect()}
    batch = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert set(out) == set(batch)
    for et, row in batch.items():
        assert out[et]["n_events"] == row["n_events"]


def test_sink_exactly_once_idempotent_retry(spark, sf_dir, tmp_path):
    """The exactly-once recipe's core claim: re-writing the SAME batch id
    (a retry after failure) replaces its output instead of appending —
    read-back row count is unchanged after a double write."""
    ev = load_table(spark, sf_dir, "events").limit(100)
    out = str(tmp_path / "e1")
    for _ in range(2):  # initial write + simulated retry of batch 0
        ev.write.mode("overwrite").parquet(os.path.join(out, "batch=0"))
    assert spark.read.parquet(out).count() == 100
    # and the full streaming key aggregates to the batch answer
    got = {
        r["event_type"]: r["n_events"]
        for r in QUERIES["sink_exactly_once"](spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


_SCRATCH_CHILD = """
import json, os, sys
from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.operators import corpus
from kafkastreaming_spark.session import get_session

spark = get_session("scratch_exit", master="local[2]")
corpus._LM_BROADCAST_MAX_BIGRAMS = 0  # open-vocabulary LM: parquet model
for key in ("sink_parquet", "sink_memory", "llm_lm_score"):
    QUERIES[key](spark, sys.argv[1]).collect()
print(json.dumps([e for e in os.listdir(sys.argv[2]) if e.startswith("ks_")]))
spark.stop()
"""


def test_process_scratch_removed_at_exit(sf_dir, tmp_path):
    """A process that runs a parquet sink, a replayed stream and the
    open-vocabulary LM leaves no ks_* scratch dir behind once it exits:
    the sink output, the shared replay chunks and the parquet LM model
    live under SPARK_GRAFT_SCRATCH and are removed at exit."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_GRAFT_SCRATCH": str(tmp_path),
        "TMPDIR": str(tmp_path),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    run = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD, sf_dir, str(tmp_path)],
        env=env, cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    during = json.loads(run.stdout.strip().splitlines()[-1])
    assert any(e.startswith("ks_spark_sink_parquet_") for e in during)
    assert any(e.startswith("ks_stream_shared_") for e in during)
    assert any(e.startswith("ks_lm_model_") for e in during)
    assert [e for e in os.listdir(tmp_path) if e.startswith("ks_")] == []


# (n_chunks, late_fraction) of the replay-directory tests
_REPLAY_CASES = [(k, late) for k in (2, 4, 6) for late in (0.0, 0.02)]


def _expected_chunks(rows: list, n_chunks: int, late_fraction: float) -> dict:
    """File name -> rows of a replay dir, cut from the (ts, event_id)
    ordered events rows: chunks of ``n // n_chunks + 1`` rows, after the
    late slice (the rows just past the first chunk) moves to
    chunk_999_late; empty chunks are not written."""
    n = len(rows)
    per = n // n_chunks + 1
    files = {}
    if late_fraction > 0:
        lo, hi = per, per + int(n * late_fraction)
        files["chunk_999_late.parquet"] = rows[lo:hi]
        rows = rows[:lo] + rows[hi:]
    for i in range(n_chunks):
        files[f"chunk_{i:03d}.parquet"] = rows[i * per : (i + 1) * per]
    return {f: r for f, r in files.items() if r}


def _chunk_rows(spark, chunk_dir: str) -> dict:
    """File name -> rows of each file in ``chunk_dir``, read with the
    file source's schema."""
    return {
        f: [
            tuple(r)
            for r in spark.read.schema(EVENT_SCHEMA)
            .parquet(os.path.join(chunk_dir, f))
            .collect()
        ]
        for f in sorted(os.listdir(chunk_dir))
    }


def test_replay_chunks_are_ordered_event_slices(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Each replay chunk, read back as the file source reads it, holds
    its slice of ``load_table(events).orderBy("ts", "event_id")`` row for
    row, and the late slice is chunk_999_late.  The file source orders a
    dir into batches by modification time; the mtimes strictly increase
    in file-name order, so the late chunk always arrives last."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    ev = load_table(spark, sf_dir, "events").orderBy("ts", "event_id")
    assert ev.columns == EVENT_SCHEMA.fieldNames()
    rows = [tuple(r) for r in ev.collect()]
    for k, late in _REPLAY_CASES:
        d = replay_chunks(sf_dir, k, late)
        assert _chunk_rows(spark, d) == _expected_chunks(rows, k, late), (k, late)
        names = sorted(os.listdir(d))
        mtimes = [os.stat(os.path.join(d, f)).st_mtime_ns for f in names]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), (k, late)
        last = "chunk_999_late.parquet" if late else f"chunk_{k - 1:03d}.parquet"
        assert names[-1] == last


def test_replay_chunks_start_no_spark_job(
    spark, sf_dir, tmp_path, monkeypatch, spark_jobs
):
    """Building a replay dir (a fresh scratch root, so no memo hit)
    starts no Spark job."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    d, n_jobs = spark_jobs(lambda: replay_chunks(sf_dir, 4, 0.02))
    assert d.startswith(str(tmp_path)) and os.listdir(d)
    assert n_jobs == 0


def test_replay_chunks_truncate_nanos_like_load_table(spark, tmp_path, monkeypatch):
    """An events file with ``ts`` as TIMESTAMP(NANOS) replays as
    ``load_table`` reads it: nanoseconds truncate toward zero
    (``ts div 1000``, so -1500 ns is -1 us) BEFORE the sort, which then
    breaks the microsecond tie of event ids 3 and 4 by event id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    sf = tmp_path / "sf_nanos"
    sf.mkdir()
    ns = [-1_500, 1_705_312_799_999_999_999, 1_705_312_800_123_456_789,
          1_705_312_800_123_456_001]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(ns, pa.int64()).cast(pa.timestamp("ns")),
                "user_id": pa.array([7, 7, 8, 8], pa.int64()),
                "event_type": ["click", "view", "click", "purchase"],
                "value": [1.5, 2.0, 0.25, 4.0],
                "props": ["{}"] * 4,
            }
        ),
        sf / "events.parquet",
    )
    assert pq.read_schema(sf / "events.parquet").field("ts").type.unit == "ns"
    got = _chunk_rows(spark, replay_chunks(str(sf), n_chunks=2))
    want = load_table(spark, str(sf), "events").orderBy("ts", "event_id")
    assert got == _expected_chunks([tuple(r) for r in want.collect()], 2, 0.0)
    assert [r[0] for rows in got.values() for r in rows] == [1, 2, 3, 4]


def test_sink_console_foreachbatch_multi_batch(spark, sf_dir):
    batches = QUERIES["sink_console"](spark, sf_dir).collect()
    assert len(batches) >= 2, "replay must produce multiple micro-batches"
    assert sum(r["n_rows"] for r in batches) == load_table(spark, sf_dir, "events").count()


def test_stream_watermark_drops_late_rows(spark, sf_dir):
    """Late-displaced rows must be missing from append-mode output."""
    out = QUERIES["stream_watermark"](spark, sf_dir)
    emitted = out.agg(F.sum("n_events")).collect()[0][0]
    total = load_table(spark, sf_dir, "events").count()
    # append mode: tail windows not finalized + late rows dropped
    assert emitted < total
    # batch counts per (window_start, event_type) are an upper bound, and
    # the late slice's windows must be strictly below their batch counts
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_batch")
    )
    j = out.join(batch, ["window_start", "event_type"]).collect()
    assert all(r["n_events"] <= r["n_batch"] for r in j)
    # the displaced (late) rows' windows are long-finalized when they
    # arrive, so they are absent from append output even though the batch
    # twin has them: batch-only windows well before the final watermark
    # are the observed drops.  (At low SF an event often owns its whole
    # 5-min window, so drops surface as missing windows, not lower counts.)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    batch_only = (
        batch.join(out, ["window_start", "event_type"], "left_anti")
        .filter(F.col("window_start") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .count()
    )
    assert batch_only > 0, "no late-row drop observed"


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    out = QUERIES["stream_stream_join"](spark, sf_dir)
    twin = (
        QUERIES["join_interval"](spark, sf_dir)
        .filter(F.col("right_type") == "purchase")
        .count()
    )
    assert out.count() == twin


def test_stream_stateful_final_state_equals_batch_agg(spark, sf_dir):
    out = {r["user_id"]: r for r in QUERIES["stream_stateful"](spark, sf_dir).collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert len(out) == len(batch)
    for r in batch:
        got = out[r["user_id"]]
        assert got["n_events"] == r["n_events"]
        assert abs(got["sum_value"] - r["sum_value"]) < 0.01


def test_stream_late_update_mode_semantics(spark, sf_dir):
    rows = {r["output_mode"]: r["emitted_rows"] for r in
            QUERIES["stream_late_update"](spark, sf_dir).collect()}
    assert set(rows) == {"append", "update", "complete"}
    # memory-sink semantics: complete REPLACES (final full table), update
    # ACCUMULATES per-batch changed rows, append holds finalized windows
    # only.  So: append misses the unfinalized tail (< complete), update
    # re-emits changed windows across batches (>= complete).
    n_windows = (
        load_table(spark, sf_dir, "events")
        .select(F.window("ts", "60 minutes"))
        .distinct()
        .count()
    )
    assert rows["complete"] == n_windows
    assert rows["append"] < rows["complete"]
    assert rows["update"] >= rows["complete"]


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark removes cross-batch duplicates."""
    from kafkastreaming_spark.sources.factory import file_event_stream
    from kafkastreaming_spark.streaming.harness import run_to_memory

    # replay dirs are SHARED per (sf, params) since r8 — copy to a
    # private dir before injecting the duplicate chunk, or the mutation
    # would poison every later consumer of the shared dir
    import shutil

    shared = replay_chunks(sf_dir, n_chunks=3)
    chunk_dir = str(tmp_path / "chunks")
    shutil.copytree(shared, chunk_dir)
    # duplicate the first 40 rows of chunk 0 into a later-arriving file
    first = pd.read_parquet(os.path.join(chunk_dir, "chunk_000.parquet")).head(40)
    first.to_parquet(
        os.path.join(chunk_dir, "chunk_001a_dupes.parquet"),
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    sdf = file_event_stream(spark, chunk_dir)
    deduped = sdf.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_to_memory(deduped, "append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events, "duplicates must be removed exactly once"
    assert out.select("event_id").distinct().count() == n_events


def test_sessionize_matches_session_window_twin(spark, sf_dir):
    """events_sessionize (gaps-and-islands batch sessionization) and
    stream_session (Spark session_window) implement the SAME 30-minute
    gap semantics through entirely different machinery — their
    (user, session_start, n_events) sets must be identical."""
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in QUERIES["events_sessionize"](spark, sf_dir).collect()
    }
    twin = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in QUERIES["stream_session"](spark, sf_dir).collect()
    }
    assert batch == twin


def test_stream_stream_outer_matches_batch_twin(spark, sf_dir):
    """stream_stream_outer: matched pairs must equal the batch
    left-outer interval join exactly, and matched + null-padded rows
    must cover every click (the watermark eventually proves every
    unmatched click unmatched — AvailableNow drains the stream, so the
    final watermark passes the whole timeline)."""
    rows = QUERIES["stream_stream_outer"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    twin = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")
        ),
        "left_outer",
    ).collect()
    got_matched = {
        (r.click_id, r.purchase_id) for r in rows if r.purchase_id is not None
    }
    want_matched = {
        (r.click_id, r.purchase_id)
        for r in twin
        if r.purchase_id is not None
    }
    assert got_matched == want_matched
    # Null-padding needs the watermark to PROVE no match can arrive,
    # and the watermark used by micro-batch N is computed from data
    # through batch N-1.  With the 4-chunk replay, the LAST batch runs
    # under a watermark of max(ts of chunks 0-2) - 10 min; clicks whose
    # 5-min match window reaches past it are legitimately still held in
    # state when AvailableNow drains — the append-mode tail.  Clicks
    # strictly older than that horizon must appear exactly once.
    import datetime

    ts_sorted = [r.ts for r in ev.select("ts").orderBy("ts").collect()]
    rpc = len(ts_sorted) // 4 + 1
    wm_basis = ts_sorted[min(3 * rpc, len(ts_sorted)) - 1]
    horizon = wm_basis - datetime.timedelta(minutes=15)
    finalized = {r.click_id for r in twin if r.click_ts < horizon}
    got_clicks = {r.click_id for r in rows}
    assert finalized <= got_clicks
    assert got_clicks <= {r.click_id for r in twin}


def test_stream_session_ttl_matches_batch_sessions(spark, sf_dir):
    """Eviction-based sessionization twin pin: every emitted closed
    session must EXACTLY equal one of events_sessionize's batch
    sessions (same user, bounds, count), and every batch session whose
    gap horizon provably fell inside the final watermark must have been
    emitted — state eviction may not lose or invent sessions."""
    from pyspark.sql import functions as F

    from kafkastreaming_spark.io import load_table

    emitted = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in QUERIES["stream_session_ttl"](spark, sf_dir).collect()
    }
    assert emitted, "no sessions closed — harness regression"

    batch = {
        (
            r["user_id"],
            r["session_start_us"],
            r["session_end_us"],
            r["n_events"],
        )
        for r in QUERIES["events_sessionize"](spark, sf_dir)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        .collect()
    }
    assert emitted <= batch, f"invented sessions: {sorted(emitted - batch)[:3]}"

    # final watermark = max event time - 10 min delay; sessions whose
    # last event + 30 min gap precedes it MUST have timed out and emitted
    max_us = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    horizon = max_us - 10 * 60 * 1_000_000
    must_emit = {
        s for s in batch if s[2] + 30 * 60 * 1_000_000 < horizon
    }
    missing = must_emit - emitted
    assert not missing, f"evicted-but-unemitted sessions: {sorted(missing)[:3]}"


def test_python_stream_source_exactly_once(spark, sf_dir):
    """source_python_stream: across the availableNow restart loop every
    offset lands exactly once — no seq duplicated by a replayed batch,
    none dropped by a lost offset — and the bucket rollup conserves the
    full offset range."""
    import glob

    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.sources.python_ds import _FEED_MAX
    from kafkastreaming_spark.streaming.harness import scratch_dir

    feeds = os.path.join(scratch_dir(), "ks_feed_*")
    before = set(glob.glob(feeds))
    rows = QUERIES["source_python_stream"](spark, sf_dir).collect()
    # the key removes its output and checkpoint dir once the rollup is
    # materialized
    assert set(glob.glob(feeds)) == before
    assert len(rows) == 8
    assert sum(r.n_msgs for r in rows) == _FEED_MAX
    assert min(r.min_seq for r in rows) == 0
    assert max(r.max_seq for r in rows) == _FEED_MAX - 1
    # conservation of the arithmetic series = no dup, no drop
    got = {r.bucket: r.n_msgs for r in rows}
    assert all(got[b] == _FEED_MAX // 8 for b in range(8))


def test_state_reader_matches_batch_and_partitioning(spark, sf_dir):
    """stream_state_reader: the state rows recovered from the checkpoint
    must equal the straight batch aggregate (state integrity), and the
    store must hold exactly one row per grouping key."""
    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table

    rows = QUERIES["stream_state_reader"](spark, sf_dir).collect()
    got = {r.event_type: (r.n_events, r.cents) for r in rows}
    assert len(rows) == len(got)  # one state row per key
    expect = {
        r.event_type: (r.n, r.c)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == expect


def test_python_sink_two_phase_commit_clean(spark, sf_dir, monkeypatch):
    """sink_python_stream: after the run the sink directory holds ONLY
    committed batch files (no _tmp_ stragglers — abort/commit cleaned
    up), the landed rows equal the events table exactly, and the key
    removes its sink directory once the rollup is materialized."""
    import fnmatch
    import glob
    import os
    import shutil

    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table
    from kafkastreaming_spark.streaming.harness import scratch_dir

    # the sink dir is gone when the key returns: list it as it is removed
    listed: dict[str, list[str]] = {}
    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if os.path.basename(path).startswith("ks_pysink_"):
            listed[path] = os.listdir(os.path.join(path, "out"))
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    before = set(glob.glob(os.path.join(scratch_dir(), "ks_pysink_*")))
    row = QUERIES["sink_python_stream"](spark, sf_dir).collect()[0]
    assert set(glob.glob(os.path.join(scratch_dir(), "ks_pysink_*"))) == before
    newdirs = set(listed) - before
    assert len(newdirs) == 1
    out = listed[newdirs.pop()]
    assert not fnmatch.filter(out, "_tmp_*")  # staging cleaned
    assert fnmatch.filter(out, "batch_*.jsonl")
    ev = load_table(spark, sf_dir, "events")
    assert row.n_rows == ev.count()
    expect = ev.agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
    ).collect()[0][0]
    assert row.sum_cents == expect


def test_listener_metrics_conserve_and_order(spark, sf_dir):
    """stream_listener_metrics: the per-batch trail must partition the
    events table exactly (conservation), with contiguous batch ids from
    0 and arrival-ordered non-increasing tail sizes (ceil-division
    chunking)."""
    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table

    rows = sorted(
        QUERIES["stream_listener_metrics"](spark, sf_dir).collect(),
        key=lambda r: r.batch_id,
    )
    assert [r.batch_id for r in rows] == list(range(len(rows)))
    n = load_table(spark, sf_dir, "events").count()
    assert sum(r.num_input_rows for r in rows) == n
    sizes = [r.num_input_rows for r in rows]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))


def test_dedup_watermark_duplicates_really_delivered(spark, sf_dir):
    """stream_dedup_watermark's claim is vacuous unless the replay dir
    truly contains re-deliveries: the dup chunk must exist, be non-empty,
    and every dup row must be byte-identical to an original — and the
    streaming output must still equal the distinct originals."""
    from kafkastreaming_spark.streaming.runtime import _ddww_chunks

    sf = sf_dir
    out = QUERIES["stream_dedup_watermark"](spark, sf).toPandas()
    d = _ddww_chunks(sf)
    dup_path = os.path.join(d, "chunk_999_dup.parquet")
    assert os.path.exists(dup_path)
    dups = pd.read_parquet(dup_path)
    assert len(dups) > 0
    originals = pd.concat(
        [
            pd.read_parquet(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith("chunk_999")
        ]
    )
    # every dup is a re-delivery of an original, keyed by event_id
    assert set(dups["event_id"]) <= set(originals["event_id"])
    assert (dups["event_id"] % 7 == 0).all()
    # output = distinct originals despite len(dups) duplicate deliveries
    assert len(out) == originals["event_id"].nunique()
    assert sorted(out["event_id"]) == sorted(originals["event_id"].unique())


def test_state_shuffle_follows_python_state_in_plan(spark, sf_dir, monkeypatch):
    """drain picks the state-partition count from the writer's plan, not
    from the key: sink_memory (JVM aggregation state) starts with 2,
    stream_stateful (applyInPandasWithState) with 8."""
    from kafkastreaming_spark.streaming import harness

    captured: list[int] = []
    real = harness._start_scoped

    def spy(session, writer, confs):
        captured.append(int(confs["spark.sql.shuffle.partitions"]))
        return real(session, writer, confs)

    monkeypatch.setattr(harness, "_start_scoped", spy)
    started = {}
    for key in ("sink_memory", "stream_stateful"):
        captured.clear()
        QUERIES[key](spark, sf_dir).count()
        started[key] = list(captured)
    assert started == {"sink_memory": [2], "stream_stateful": [8]}


_LIFECYCLE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def test_drain_checkpoint_manager_local_only(spark, sf_dir, monkeypatch):
    """drain writes a local checkpoint (none given, a plain path, or a
    file: URI) through the FileSystem checkpoint manager, and leaves a
    remote one (hdfs://, s3a://) on Spark's default manager."""
    from kafkastreaming_spark.streaming import harness

    key = "spark.sql.streaming.checkpointFileManagerClass"
    captured: list[dict[str, str]] = []

    class Started(Exception):
        pass

    def spy(session, writer, confs):
        captured.append(dict(confs))
        raise Started

    monkeypatch.setattr(harness, "_start_scoped", spy)
    writer = harness.stream_events(spark, sf_dir, n_chunks=2).writeStream.format(
        "noop"
    )
    local = os.path.join(tempfile.gettempdir(), "ks_ckpt_never_started")
    checkpoints = [None, local, f"file://{local}", "hdfs://nn:8020/ck", "s3a://b/ck"]
    for ckpt in checkpoints:
        with pytest.raises(Started):
            harness.drain(spark, writer, checkpoint=ckpt)
    managers = [c.get(key) for c in captured]
    fs_manager = harness._LOCAL_CHECKPOINT_MANAGER[key]
    assert fs_manager.endswith(".FileSystemBasedCheckpointFileManager")
    assert managers == [fs_manager] * 3 + [None] * 2
    assert not os.path.exists(local)


def test_local_checkpoint_layout_and_resume(spark, sf_dir, tmp_path):
    """A stateful lifecycle through drain with a caller-supplied local
    checkpoint leaves a complete checkpoint on disk: the offsets WAL and
    the commit log hold the same batch ids, the state store holds delta
    files, and no temp file of the write-then-rename path is left.  A
    restart on that checkpoint after one more replay chunk arrives reads
    only the new chunk and resumes the aggregation state."""
    import shutil
    import uuid

    from kafkastreaming_spark.sources.factory import file_event_stream
    from kafkastreaming_spark.streaming import harness

    src_all = harness.replay_chunks(sf_dir, n_chunks=4)
    chunks = sorted(f for f in os.listdir(src_all) if f.endswith(".parquet"))
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()

    def run() -> tuple[dict, int]:
        name = f"sink_{uuid.uuid4().hex[:12]}"
        agg = file_event_stream(spark, str(src)).groupBy("event_type").count()
        writer = agg.writeStream.format("memory").queryName(name)
        q = harness.drain(
            spark, writer.outputMode("complete"), checkpoint=str(ckpt)
        )
        try:
            got = {r.event_type: r["count"] for r in spark.table(name).collect()}
        finally:
            spark.catalog.dropTempView(name)
        return got, sum(p["numInputRows"] for p in q.recentProgress)

    def batch_ids(log: str) -> set[int]:
        return {int(f) for f in os.listdir(ckpt / log) if f.isdigit()}

    def expect(files: list[str]) -> dict:
        df = spark.read.parquet(*(str(src / f) for f in files))
        rows = df.groupBy("event_type").count().collect()
        return {r.event_type: r["count"] for r in rows}

    for f in chunks[:2]:
        shutil.copy(os.path.join(src_all, f), src / f)
    got, n_read = run()
    assert got == expect(chunks[:2])
    assert n_read == sum(got.values())
    ids = batch_ids("offsets")
    assert ids and ids == batch_ids("commits")
    assert list((ckpt / "state" / "0").glob("*/*.delta"))
    assert not [p for p in ckpt.rglob("*") if p.name.endswith(".tmp")]

    shutil.copy(os.path.join(src_all, chunks[2]), src / chunks[2])
    got, n_read = run()
    assert n_read == spark.read.parquet(str(src / chunks[2])).count()
    assert got == expect(chunks[:3])
    assert batch_ids("offsets") == batch_ids("commits") > ids
    assert not [p for p in ckpt.rglob("*") if p.name.endswith(".tmp")]


def test_drain_timeout_releases_query_checkpoint_and_confs(spark, sf_dir):
    """A lifecycle that cannot finish in its timeout raises TimeoutError
    instead of returning a partial sink, and still leaves nothing
    behind: no active query, no checkpoint dir, session confs as they
    were before the call."""
    import glob

    from kafkastreaming_spark.streaming import harness

    confs = {k: spark.conf.get(k, None) for k in _LIFECYCLE_CONFS}
    ckpts = set(glob.glob(os.path.join(harness.scratch_dir(), "ks_ckpt_*")))
    agg = harness.stream_events(spark, sf_dir, n_chunks=4).groupBy("event_type").count()
    with pytest.raises(TimeoutError):
        # 1 ms: four stateful micro-batches cannot drain that fast
        harness.run_to_memory(
            agg,
            "complete",
            timeout_sec=0.001,
            no_data_batches=False,
            confs={"spark.sql.shuffle.partitions": "3"},
        )
    assert not spark.streams.active
    assert set(glob.glob(os.path.join(harness.scratch_dir(), "ks_ckpt_*"))) == ckpts
    assert {k: spark.conf.get(k, None) for k in _LIFECYCLE_CONFS} == confs


def test_concurrent_lifecycles_with_conflicting_confs(spark, sf_dir):
    """run_to_memory lifecycles with conflicting confs, two of each, in
    a thread pool each produce exactly their single-threaded result and
    leave the session confs as they were: drain scopes the confs to each
    query's start(), where Spark fixes them."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from kafkastreaming_spark.streaming import harness

    lifecycles = {
        "3_no_trailing": dict(
            no_data_batches=False, confs={"spark.sql.shuffle.partitions": "3"}
        ),
        "5_trailing": dict(
            no_data_batches=True, confs={"spark.sql.shuffle.partitions": "5"}
        ),
    }

    def run(name: str) -> list:
        agg = (
            harness.stream_events(spark, sf_dir, n_chunks=4)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )
        return sorted(harness.run_to_memory(agg, "append", **lifecycles[name]).collect())

    confs = {k: spark.conf.get(k, None) for k in _LIFECYCLE_CONFS}
    solo = {name: run(name) for name in lifecycles}
    # the confs really conflict: only the trailing no-data batch emits
    # the windows its final watermark advance closes
    assert len(solo["3_no_trailing"]) < len(solo["5_trailing"])
    names = list(lifecycles) * 2
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads' py4j calls
    try:
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            together = list(pool.map(run, names))
    finally:
        sys.setswitchinterval(switch)
    assert together == [solo[name] for name in names]
    assert {k: spark.conf.get(k, None) for k in _LIFECYCLE_CONFS} == confs


# keys that run in a per-call scratch dir, with the dir's prefix
_PER_CALL_DIRS = {
    "sink_exactly_once": "ks_e1_",
    "stream_checkpoint_restart": "ks_ckptr_",
    "stream_state_reader": "ks_ckpt_streader_",
    "stream_foreach_upsert": "ks_upsert_",
    "source_python_stream": "ks_feed_",
    "sink_python_stream": "ks_pysink_",
}


def test_per_call_scratch_dirs_removed_after_each_key(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Under a fresh scratch root each key that works in a per-call dir
    removes it, and drain's own checkpoints, before it returns: only the
    per-process dirs (``*_<pid>``, removed at exit) are left."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    removed: list[str] = []
    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if os.path.dirname(path) == str(tmp_path) and os.path.exists(path):
            removed.append(os.path.basename(path))
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    pid = f"_{os.getpid()}"
    for key, prefix in _PER_CALL_DIRS.items():
        removed.clear()
        QUERIES[key](spark, sf_dir).collect()
        left = [
            e for e in os.listdir(tmp_path)
            if e.startswith("ks_") and not e.endswith(pid)
        ]
        assert left == [], key
        assert any(r.startswith(prefix) for r in removed), (key, removed)


def test_call_scratch_removed_when_body_raises(tmp_path, monkeypatch):
    """call_scratch names a fresh dir under the scratch root and removes
    it on exit even when the body raises."""
    from kafkastreaming_spark.streaming import harness

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    with pytest.raises(RuntimeError, match="body failed"):
        with harness.call_scratch("ks_fail") as d:
            assert os.path.dirname(d) == str(tmp_path)
            assert os.path.basename(d).startswith("ks_fail_")
            os.makedirs(os.path.join(d, "sub"))
            raise RuntimeError("body failed")
    assert os.listdir(tmp_path) == []


def test_build_once_builds_each_dir_once_even_nested(tmp_path, monkeypatch):
    """build_once fills a process dir on the first call only, and a build
    may itself ask for another process dir (the dup replay needs the
    plain replay) without deadlocking."""
    from kafkastreaming_spark.streaming import harness

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    calls: list[str] = []

    def inner(out: str) -> None:
        calls.append("inner")
        os.makedirs(out)

    def outer(out: str) -> None:
        calls.append(harness.build_once("ks_test_inner", inner))
        os.makedirs(out)

    got = [harness.build_once("ks_test_outer", outer) for _ in range(2)]
    pid = os.getpid()
    assert got == [str(tmp_path / f"ks_test_outer_{pid}")] * 2
    assert calls == ["inner", str(tmp_path / f"ks_test_inner_{pid}")]
