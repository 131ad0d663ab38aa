"""Streaming replay harness (SURVEY.md §5.2 layer 3).

Replays the bounded events table as a genuine multi-micro-batch stream:

1. ``replay_chunks`` sorts events by (ts, event_id) and splits them
   into N parquet chunk files with pyarrow alone (no Spark job),
   optionally displacing a slice of mid-timeline rows into a final
   chunk to create *late* arrivals for watermark tests; the files'
   modification times are stamped in name order, which fixes the
   order in which the file source delivers them;
2. ``file_event_stream`` reads the chunk dir with maxFilesPerTrigger=1;
3. ``run_to_memory`` executes with Trigger.AvailableNow — Spark processes
   chunk-by-chunk (real incremental state, real watermark advancement),
   then stops — and returns the memory-sink table.

This is how watermark/late-data/stateful semantics are verified without a
Kafka broker (none exists in this sandbox — SURVEY.md §7.5).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Iterator
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

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


# process_scratch dirs that build_once has filled in this process
_BUILT: set[str] = set()
# re-entrant: one build may ask for another (a dup replay needs the
# plain replay); holding it across the check and the build keeps
# concurrent lifecycles from racing the check against a rebuild
_BUILD_LOCK = threading.RLock()


def build_once(name: str, build: Callable[[str], None]) -> str:
    """:func:`process_scratch` dir ``name``, filled by ``build(path)``
    the first time this process asks for it."""
    out = process_scratch(name)
    with _BUILD_LOCK:
        if out not in _BUILT:
            build(out)
            _BUILT.add(out)
    return out


@contextlib.contextmanager
def call_scratch(prefix: str) -> Iterator[str]:
    """Yield ``<scratch_dir()>/<prefix>_<uuid12>`` (not created) for one
    call, and remove it on exit, also when the body raises."""
    path = os.path.join(scratch_dir(), f"{prefix}_{uuid.uuid4().hex[:12]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


# State/shuffle partition counts for a streaming lifecycle, chosen from
# its plan.  A streaming state store costs O(partitions) per micro-batch
# per stateful operator (provider load, delta file, commit) however
# little state it holds, and AQE is disabled in streaming, so nothing
# coalesces the shuffle partitions back down.  Replay fixtures carry
# <=100k rows of state, so that fixed cost is what the count decides:
#
# * JVM state stores (aggregations, dedup, stream-stream joins) or no
#   state: 2.  An 8 -> 2 sweep (4-vCPU VM, SPARK_GRAFT_CPUS=4, medians
#   of 3 warm calls):
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
# State far beyond replay size (about 10^6 rows and up) wants at least
# one partition per core; a lifecycle sets that through drain's
# ``confs`` (SCALE.md "Streaming state partitions").
_JVM_STATE_SHUFFLE = 2
_PYTHON_STATE_SHUFFLE = 8


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

    * The state-partition count follows the writer's analyzed plan, not
      the key: :data:`_PYTHON_STATE_SHUFFLE` when it holds Python
      per-group state, else :data:`_JVM_STATE_SHUFFLE`.  ``confs`` is
      merged last, so ``{"spark.sql.shuffle.partitions": ...}`` there
      overrides it.
    * A checkpoint on local disk (no URI scheme, or ``file``) is written
      through Spark's FileSystem checkpoint manager
      (:data:`_LOCAL_CHECKPOINT_MANAGER`): the default FileContext
      manager runs child processes on every rename of a local file,
      and each micro-batch renames a WAL entry, a commit entry and one
      state delta per partition.  On the ``stream-sink`` benchmark
      (4-vCPU VM, 10 alternating pairs) ``pass_s`` went 2.143 -> 1.535 s
      median.  A remote checkpoint keeps Spark's default manager.
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
    with (
        call_scratch("ks_ckpt")
        if checkpoint is None
        else contextlib.nullcontext(checkpoint)
    ) as ckpt:
        scoped = {
            "spark.sql.shuffle.partitions": str(
                _PYTHON_STATE_SHUFFLE
                if _python_state(writer)
                else _JVM_STATE_SHUFFLE
            ),
            "spark.sql.streaming.noDataMicroBatches.enabled": str(
                no_data_batches
            ).lower(),
            **(_LOCAL_CHECKPOINT_MANAGER if _is_local(ckpt) else {}),
            **(confs or {}),
        }
        q = None
        try:
            q = _start_scoped(
                spark, writer.option("checkpointLocation", ckpt), scoped
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


def replay_chunks(
    sf_dir: str, n_chunks: int, late_fraction: float = 0.0
) -> str:
    """Write events as n_chunks arrival-ordered parquet files; optionally
    move a slice of mid-timeline rows into the last chunk (late data).
    Returns the chunk directory.

    The chunks are built with pyarrow alone (:func:`_write_chunks`); no
    Spark job runs.  The replay is a pure function of (sf_dir, n_chunks,
    late_fraction) — every streaming key reads the same events table —
    so the chunk dir is built ONCE per (process, scratch root, params)
    and shared across keys, queries (each has its own checkpoint) and
    bench repeats."""
    return build_once(
        "ks_stream_shared_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{n_chunks}"
        f"_{int(late_fraction * 10_000)}",
        lambda out: _write_chunks(sf_dir, out, n_chunks, late_fraction),
    )


def _sorted_events(sf_dir: str) -> pa.Table:
    """The events table as Spark's ``load_table(...).orderBy("ts",
    "event_id")`` returns it, read with pyarrow: ``ts`` becomes
    ``timestamp[us]`` without a zone (how Spark reads the chunks back
    under the UTC session zone; nanoseconds truncate toward zero like
    ``load_table``'s ``ts div 1000``, a zone's UTC instants are kept),
    rows sort ascending with nulls first, and the fixture's pandas
    schema metadata is dropped."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev.column(i).cast(pa.timestamp("us"), safe=False))
    order = pc.sort_indices(
        ev,
        sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
        null_placement="at_start",
    )
    return ev.take(order).replace_schema_metadata(None)


def _write_chunks(
    sf_dir: str, out: str, n_chunks: int, late_fraction: float
) -> None:
    ev = _sorted_events(sf_dir)
    n = ev.num_rows
    rows_per_chunk = n // n_chunks + 1
    files = {}
    if late_fraction > 0:
        # displace rows from the 2nd chunk to arrive last → late by most of
        # the timeline, far beyond any reasonable watermark delay
        lo, hi = rows_per_chunk, rows_per_chunk + int(n * late_fraction)
        files["chunk_999_late.parquet"] = ev.slice(lo, hi - lo)
        ev = pa.concat_tables([ev.slice(0, lo), ev.slice(hi)])
    for i in range(n_chunks):
        files[f"chunk_{i:03d}.parquet"] = ev.slice(
            i * rows_per_chunk, rows_per_chunk
        )
    write_replay(out, files)


# First modification time stamped on a replay dir's files (2020-09-13).
_REPLAY_MTIME = 1_600_000_000


def write_replay(out: str, files: dict[str, pa.Table]) -> None:
    """Write ``files`` (file name -> rows) as parquet into a fresh dir
    ``out``, skipping empty ones, and stamp modification times one second
    apart in file-name order.  FileStreamSource orders a dir's files into
    batches by modification time, and files written back to back can tie
    at Hadoop's millisecond granularity; the stamps make the arrival
    order the name order (a late chunk named ``chunk_999_*`` is last)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    names = [f for f in sorted(files) if files[f].num_rows]
    for i, name in enumerate(names):
        path = os.path.join(out, name)
        pq.write_table(files[name], path)
        os.utime(path, (_REPLAY_MTIME + i, _REPLAY_MTIME + i))


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
    no_data_batches: bool = True,
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
        no_data_batches=no_data_batches,
        confs=confs,
    )
    return spark.table(name)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int,
    late_fraction: float = 0.0,
) -> DataFrame:
    """Convenience: chunked replay of the events table as a streaming DF."""
    return file_event_stream(
        spark, replay_chunks(sf_dir, n_chunks, late_fraction)
    )
