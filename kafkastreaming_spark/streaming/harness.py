"""Streaming replay harness (SURVEY.md §5.2 layer 3).

Replays the bounded events table as a genuine multi-micro-batch stream:

1. sort events by ts, split into N parquet chunk files (arrival order);
   optionally displace a slice of mid-timeline rows into the final chunk
   to create *late* arrivals for watermark tests;
2. ``file_event_stream`` reads the chunk dir with maxFilesPerTrigger=1;
3. ``run_to_memory`` executes with Trigger.AvailableNow — Spark processes
   chunk-by-chunk (real incremental state, real watermark advancement),
   then stops — and returns the memory-sink table.

This is how watermark/late-data/stateful semantics are verified without a
Kafka broker (none exists in this sandbox — SURVEY.md §7.5).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kafkastreaming_spark.io import load_table, session_cores
from kafkastreaming_spark.sources.factory import file_event_stream


def scratch_dir() -> str:
    """Scratch root for harness artifacts (replay chunk dirs, streaming
    checkpoints, staging sinks).  Override with SPARK_GRAFT_SCRATCH.

    Default is the system tempdir, NOT tmpfs — measured r13: a tmpfs
    (/dev/shm) default was A/B-flat in a fresh process (per-lifecycle
    checkpoint I/O is buffered small writes either way, never fsync-
    bound) but 25-60% SLOWER for the Python-stateful and stateful
    streaming keys inside a long bench session, where tmpfs page
    allocation competes with the parquet page cache under memory
    pressure (harness section 55.9 s on /dev/shm vs 44.9 s on /tmp,
    clean canaries both, byte-identical code).  Checkpoint semantics
    are medium-independent; on a real cluster checkpoints belong on
    HDFS/object storage — this knob tunes the single-box replay
    HARNESS, not the operator."""
    cand = os.environ.get("SPARK_GRAFT_SCRATCH")
    if cand and os.path.isdir(cand) and os.access(cand, os.W_OK):
        return cand
    return tempfile.gettempdir()


# Per-process scratch dirs that outlive the call that wrote them
# (shared replay chunks, sink outputs read back lazily); removed when
# the process exits.
_PROCESS_DIRS: set[str] = set()


def process_scratch(name: str) -> str:
    """``<scratch_dir()>/<name>_<pid>``, removed at process exit.  The
    pid keeps concurrent processes (pytest and a bench run, say) from
    overwriting each other's dirs mid-read-back."""
    path = os.path.join(scratch_dir(), f"{name}_{os.getpid()}")
    _PROCESS_DIRS.add(path)
    return path


@atexit.register
def _remove_process_dirs() -> None:
    for path in _PROCESS_DIRS:
        shutil.rmtree(path, ignore_errors=True)


# State/shuffle partition counts for replay streaming queries.  A
# streaming state store costs O(partitions) per micro-batch per stateful
# operator (provider load, delta file, commit) however little state it
# holds, and AQE is disabled in streaming, so nothing coalesces the
# session's batch-sized shuffle partitions back down.  Replay fixtures
# carry <=100k rows of state, so that fixed cost is what the count
# decides:
#
# * JVM state stores (aggregations, dedup, stream-stream joins) or no
#   state: 2.  The r11/r12 sweep (4/8/16/32) never went below 4; an 8 -> 2
#   sweep (4-vCPU VM, SPARK_GRAFT_CPUS=4, medians of 3 warm calls):
#
#     key                          sf0.01: 8 -> 2    sf0.1: 8 -> 2
#     sink_memory                  2.09 -> 1.32 s    2.40 -> 1.44 s
#     stream_dedup_watermark       2.22 -> 1.41      2.78 -> 2.12
#     stream_rocksdb_state         2.24 -> 1.49      -
#     stream_state_reader          2.21 -> 1.35      -
#     stream_watermark             3.64 -> 2.36      -
#     stream_stream_outer          2.90 -> 2.42 (4)  4.62 -> 3.00
#     stream_stream_join           2.66 -> 2.16 (4)  -
#     stream_late_update           2.86 -> 2.37 (4)  -
#
#   ((4): from the old per-key override of 4.)  The other ~30 stream_,
#   sink_ and source_ keys were flat within noise.
# * Python per-group state (applyInPandasWithState, a
#   FlatMapGroupsInPandasWithState node in the plan): 8.  Each partition
#   is a Python worker doing per-group work, so 2 starves the cores —
#   at sf0.1 stream_stateful went 5.52 -> 6.91 s and stream_session_ttl
#   10.49 -> 11.69 s.
#
# At state volumes at or above _STATE_VOLUME_THRESHOLD, state_partitions()
# sizes to the machine instead.
_JVM_STATE_SHUFFLE = 2
_PYTHON_STATE_SHUFFLE = 8

# State-volume threshold above which the harness stops trusting the
# low-overhead replay counts and sizes state partitions to the machine
# (VERDICT r14 item 3, promoting the r14 100x-probe finding from a
# docstring to a tested default).  The probe's A/B at 10M events through
# stream_session_ttl measured 447 s at 32 partitions vs 1270-1348 s at 8
# in fresh processes: once per-group state compute dominates the fixed
# per-partition state-store overhead, fewer-partitions-than-cores is a
# 3x loss.
_STATE_VOLUME_THRESHOLD = 1_000_000


def state_partitions(
    state_groups: int | None,
    cores: int | None = None,
    python_state: bool = False,
) -> int:
    """State-partition count for a streaming lifecycle, derived from
    expected STATE VOLUME (``state_groups`` = rows/groups the state
    store will track; pass the best estimate available, e.g. distinct
    keys x windows) and from where the state lives (``python_state``:
    per-group state processed in Python workers).

    Below :data:`_STATE_VOLUME_THRESHOLD` the fixed per-partition
    per-micro-batch state-store cost dominates, so JVM state gets
    :data:`_JVM_STATE_SHUFFLE` (2) and Python per-group state, whose
    partitions are Python workers that must keep the cores busy,
    :data:`_PYTHON_STATE_SHUFFLE` (8).  At or above it, per-group state
    compute dominates and the rule flips to >= one partition per core —
    the r14 100x probe measured the flip at 3x (447 s @32 vs
    1270-1348 s @8 for 10M events / ~150k Python-stateful groups).
    ``None`` state volume means "unknown, assume replay-sized"."""
    if state_groups is not None and state_groups >= _STATE_VOLUME_THRESHOLD:
        if cores is None:
            cores = session_cores()
        return max(cores, _PYTHON_STATE_SHUFFLE)
    return _PYTHON_STATE_SHUFFLE if python_state else _JVM_STATE_SHUFFLE


def _python_state(writer: DataStreamWriter) -> bool:
    """Whether ``writer``'s analyzed plan keeps per-group state in Python
    workers (a FlatMapGroupsInPandasWithState node)."""
    todo = [writer._df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


# Checkpoint file manager for a checkpoint on local disk.  Every file a
# query writes under its checkpoint (offsets WAL, commit log, file-source
# log, state-store deltas, a file sink's _spark_metadata) is written to
# a temp file and renamed into place by this one manager; the class only
# changes which Hadoop API performs the write and the rename.  Spark's
# default, FileContextBasedCheckpointFileManager, goes through
# FileContext's LocalFs, whose rename stats source and destination (data
# file and .crc side file) with getFileLinkStatus; with Hadoop's native
# IO not loaded (NativeIO.isAvailable() is False with the pyspark 4.1.2
# jars) that runs the `stat` command in a child process.  A py4j probe
# on one local dir (4-vCPU VM, 200 calls per op, alternating rounds,
# medians):
#
#   call                        FileContext   FileSystem
#   CheckpointFileManager.create   0.32 ms      0.22 ms
#   createAtomic + write + close  35.0 ms       8.6 ms
#   renameTempFile                25.4 ms       0.25 ms
#   exists                         0.10 ms      0.09 ms
#   list (100 files)               2.2 ms       2.1 ms
#
# Both write the same data and .crc files.  One checkpoint-file write
# allocated 20 pids under FileContext against 4 under FileSystem (the
# pid namespace's last pid, read before and after 50 writes);
# fc.getFileLinkStatus allocates 2 pids per call, fs.getFileStatus 0,
# and fc.rename with and without OVERWRITE costs the same (13.1 ms).  So
# the gap is the per-rename child processes, not the .crc files or the
# overwrite mode.  The 4 left under FileSystem were the `chmod` child
# process (plus its stderr-reader thread) that Hadoop's
# RawLocalFileSystem.setPermission runs on each create of the data file
# and of its .crc file; a local-master session from session.get_session
# sets them through java.nio instead (session._LOCAL_FS_CONFS), which
# took the write to 1.0 ms and 0 pids.  That file system does not reach
# FileContext, so the FileSystem manager is still what avoids the
# `stat` children of FileContext's rename.  POSIX rename is atomic on a
# local file system, so the FileSystem manager keeps the
# write-temp-then-rename guarantee there.
# A remote checkpoint (hdfs://, s3a://, ...) keeps Spark's default: see
# SCALE.md "Streaming state".
_LOCAL_CHECKPOINT_MANAGER = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
}


def _is_local(path: str) -> bool:
    """Whether ``path`` names local disk: no URI scheme, or ``file``."""
    return urlparse(path).scheme in ("", "file")


# Serializes the conf-scoping step of every lifecycle (see drain): the
# session confs are shared, so two lifecycles' set/start/restore must
# not interleave.
_CONF_LOCK = threading.Lock()


def _start_scoped(
    spark: SparkSession, writer: DataStreamWriter, confs: dict[str, str]
) -> StreamingQuery:
    """Set ``confs`` on the session, start ``writer`` as an AvailableNow
    query, and restore the confs — all under :data:`_CONF_LOCK`.  A conf
    that was unset before is unset again, not pinned to its default."""
    with _CONF_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return writer.trigger(availableNow=True).start()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    timeout_sec: float = 120,
    checkpoint: str | None = None,
    shuffle_n: int | None = None,
    state_groups: int | None = None,
    no_data_batches: bool = True,
    confs: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run one streaming lifecycle to completion: start ``writer`` with
    Trigger.AvailableNow, wait for it, stop it, clean up.  Returns the
    terminated query (for ``lastProgress`` and friends).

    The lifecycle's confs — ``spark.sql.shuffle.partitions``,
    ``spark.sql.streaming.noDataMicroBatches.enabled`` and any extra
    ``confs`` (e.g. a state-store provider) — are on the session only
    while ``start()`` runs, under a module lock.  That is enough because
    Spark fixes a streaming query's confs at ``start()`` (the query
    clones the session when it is created), so concurrent lifecycles
    with conflicting confs are safe and the session is left unchanged.

    * A checkpoint on local disk (no URI scheme, or ``file``) is written
      through Spark's FileSystem checkpoint manager
      (:data:`_LOCAL_CHECKPOINT_MANAGER`): the default FileContext
      manager runs child processes on every rename of a local file,
      and each micro-batch renames a WAL entry, a commit entry and one
      state delta per partition.  The write order (WAL, execute,
      commit), temp-then-rename writes and checkpoint checksums are
      unchanged.  The create of each file and of its .crc runs no
      child process only under the java.nio local file system that
      ``session.get_session`` registers for local masters; under
      Hadoop's stock one each create runs `chmod`.  On the
      ``stream-sink`` benchmark (4-vCPU VM, 10 alternating pairs) ``pass_s`` went 2.143 -> 1.535 s median
      (-28%, 10/10 pairs); a traced pair (seed 931) cut
      ``stream.wal_commit_ms`` 182.5 -> 37.5,
      ``stream.commit_offsets_ms`` 154.5 -> 40.0 and
      ``state.commit_ms`` 455.0 -> 25.5.  A remote checkpoint keeps
      Spark's default manager.
    * ``shuffle_n`` is the state-partition count; when None,
      ``state_groups`` (expected state-store volume) picks it via
      :func:`state_partitions`, told whether the writer's analyzed
      plan holds Python per-group state.  The rule follows the plan,
      not the key: no key overrides it (the r12/r13 per-key 4s for
      ``stream_late_update`` and the stream-stream joins lost to the
      JVM-state 2 — see the table above :data:`_JVM_STATE_SHUFFLE`).
    * ``no_data_batches=False`` skips the trailing zero-row micro-batch.
      That batch exists ONLY to advance the watermark and fire state
      evictions/timeouts after the last data batch — operators whose
      evictions EMIT (outer joins, session timeouts, append-mode window
      finalization) need it; operators whose evictions are
      output-silent (inner stream-stream join) pay its full
      state-store-commit floor (r13 profile: an EMPTY batch costs
      addBatch≈712 ms) for nothing.  Only pass False when the final
      sink is provably independent of the trailing batch.

    Raises ``TimeoutError`` when the query has not finished within
    ``timeout_sec`` — never returns a partial sink.  Whatever happens,
    the query is stopped, and a checkpoint this call created is
    removed; a caller-supplied ``checkpoint`` (restart, state reader)
    stays with the caller."""
    own_ckpt = checkpoint is None
    if own_ckpt:
        checkpoint = os.path.join(scratch_dir(), f"ks_ckpt_{uuid.uuid4().hex[:12]}")
    scoped = {
        "spark.sql.shuffle.partitions": str(
            shuffle_n
            or state_partitions(state_groups, python_state=_python_state(writer))
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(
            no_data_batches
        ).lower(),
        **(_LOCAL_CHECKPOINT_MANAGER if _is_local(checkpoint) else {}),
        **(confs or {}),
    }
    q = None
    try:
        q = _start_scoped(
            spark, writer.option("checkpointLocation", checkpoint), scoped
        )
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish in "
                f"{timeout_sec}s — refusing to return a partial sink"
            )
        return q
    finally:
        if q is not None and q.isActive:
            q.stop()
        if own_ckpt:
            shutil.rmtree(checkpoint, ignore_errors=True)


# chunk dirs already built by THIS process; built under _REPLAY_LOCK so
# concurrent lifecycles never race the check against the rmtree
_REPLAY_BUILT: set[str] = set()
_REPLAY_LOCK = threading.Lock()


def replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 6,
    late_fraction: float = 0.0,
) -> str:
    """Write events as n_chunks arrival-ordered parquet files; optionally
    move a slice of mid-timeline rows into the last chunk (late data).
    Returns the chunk directory.

    The replay is a pure function of (sf_dir, n_chunks, late_fraction) —
    every streaming key reads the same events table — so the chunk dir
    is built ONCE per (process, params) and shared across keys, queries
    (each has its own checkpoint), and bench repeats.  Before this memo
    the rows-only bench paid a toPandas + parquet rewrite per
    invocation: ~12 rewrites of the full events table per repeat at
    sf0.1 (r8 roadmap item)."""
    out = process_scratch(
        "ks_stream_shared_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{n_chunks}"
        f"_{int(late_fraction * 10_000)}"
    )
    with _REPLAY_LOCK:
        if out not in _REPLAY_BUILT:
            _write_chunks(spark, sf_dir, out, n_chunks, late_fraction)
            _REPLAY_BUILT.add(out)
    return out


def _write_chunks(
    spark: SparkSession, sf_dir: str, out: str, n_chunks: int, late_fraction: float
) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    ev = load_table(spark, sf_dir, "events").orderBy("ts", "event_id")
    pdf = ev.toPandas()
    rows_per_chunk = len(pdf) // n_chunks + 1
    late = None
    if late_fraction > 0:
        # displace rows from the 2nd chunk to arrive last → late by most of
        # the timeline, far beyond any reasonable watermark delay
        lo, hi = rows_per_chunk, rows_per_chunk + int(len(pdf) * late_fraction)
        late = pdf.iloc[lo:hi]
        pdf = pdf.drop(pdf.index[lo:hi])
    for i in range(n_chunks):
        chunk = pdf.iloc[i * rows_per_chunk : (i + 1) * rows_per_chunk]
        if len(chunk) == 0:
            continue
        chunk.to_parquet(
            os.path.join(out, f"chunk_{i:03d}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    if late is not None and len(late):
        late.to_parquet(
            os.path.join(out, "chunk_999_late.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


# memory-sink temp views registered by run_to_memory, oldest first —
# each holds its full result rows on the driver until dropped
_SINK_TABLES: list[str] = []


def release_sinks(spark: SparkSession, keep: int = 4) -> int:
    """Drop memory-sink temp views registered by earlier
    :func:`run_to_memory` calls, keeping the newest ``keep``.

    A memory sink retains its full result rows on the driver for as
    long as its temp view exists; a long session that runs many
    streaming lifecycles (bench: ~30 keys × 4 runs) otherwise
    accumulates every sink ever produced.  Callers that have fully
    materialized the frames a key returned (bench between keys, the
    verifier between keys) can release all but the newest few — frames
    from dropped views fail loudly on re-use, never silently.  Returns
    the number of views dropped."""
    dropped = 0
    while len(_SINK_TABLES) > max(keep, 0):
        name = _SINK_TABLES.pop(0)
        try:
            spark.catalog.dropTempView(name)
            dropped += 1
        except Exception:  # noqa: BLE001 — already gone is fine
            pass
    return dropped


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_sec: float = 120,
    shuffle_n: int | None = None,
    no_data_batches: bool = True,
    state_groups: int | None = None,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; returns the sink table as a batch DataFrame.  The
    lifecycle options are :func:`drain`'s.  The sink view is tracked for
    :func:`release_sinks` from the moment the query starts, so a failed
    lifecycle does not leak it either."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    _SINK_TABLES.append(name)
    drain(
        spark,
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        timeout_sec=timeout_sec,
        shuffle_n=shuffle_n,
        state_groups=state_groups,
        no_data_batches=no_data_batches,
        confs=confs,
    )
    return spark.table(name)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 6,
    late_fraction: float = 0.0,
) -> DataFrame:
    """Convenience: chunked replay of the events table as a streaming DF."""
    return file_event_stream(
        spark, replay_chunks(spark, sf_dir, n_chunks, late_fraction)
    )


def console_sink(
    sdf: DataFrame,
    num_rows: int = 5,
    timeout_sec: int = 60,
    state_groups: int | None = None,
) -> None:
    """Console sink (operational debugging sink; SURVEY.md §2.1).

    ``state_groups`` (expected state-store volume) sizes state partitions
    via :func:`state_partitions`, exactly like :func:`run_to_memory` —
    replay-sized state keeps the plan-based replay count, >=threshold
    state sizes to the machine (ADVICE r15: previously only run_to_memory
    had this, so large-state lifecycles through this sink silently kept
    the 3x-slow small-state default)."""
    drain(
        sdf.sparkSession,
        sdf.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "true"),
        timeout_sec=timeout_sec,
        state_groups=state_groups,
    )


def foreach_batch_collect(
    sdf: DataFrame, timeout_sec: int = 120, state_groups: int | None = None
) -> list:
    """foreachBatch sink: collects (batch_id, row_count) per micro-batch —
    the arbitrary-sink escape hatch (JDBC/object-store writes in prod).

    ``state_groups`` sizes state partitions via :func:`state_partitions`,
    matching :func:`run_to_memory` (ADVICE r15 — see :func:`console_sink`)."""
    seen: list = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    drain(
        sdf.sparkSession,
        sdf.writeStream.foreachBatch(handle),
        timeout_sec=timeout_sec,
        state_groups=state_groups,
    )
    return seen
