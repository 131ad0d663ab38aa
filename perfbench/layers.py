"""Per-layer tracing of key calls, measured from outside the program.

The tracer wraps the public functions of each layer (``session.prepare``,
``io.load_table``, ``io.spread``, ``memo.memo``, ``harness.replay_chunks``,
``harness.run_to_memory``), times each key call in three phases (build,
plan, exec), reads job and stage counters from Spark's status store and
collects micro-batch progress from a ``StreamingQueryListener``.

Spans are kept in memory and written out once, at the end of the run.
Each span has an id, the id of the key call it belongs to, its parent
span, a name, and start and end times in seconds since the run began.

``install`` must run before ``kafkastreaming_spark.all`` is imported: the
operator modules bind ``memo``, ``load_table``, ``replay_chunks`` and
``run_to_memory`` by name at import time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict

MB = 1024 * 1024


class Tracer:
    def __init__(self, cores: int):
        self.cores = cores
        self.active = False
        self.t0 = time.perf_counter()
        self.epoch0 = time.time() - self.t0  # epoch seconds at perf_counter 0
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self.passes: list[dict] = []
        self.call_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._batches: list[dict] = []  # progress not yet given to a call
        self._seen_stages: set[int] = set()
        self._jsc = None
        self.listener = None

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, sid: int | None = None, **attrs):
        """Record one span around the body; nested spans get it as parent."""
        stack = self._stack()
        sid = sid if sid is not None else next(self._ids)
        rec = {
            "id": sid,
            "call": self.call_id,
            "parent": stack[-1] if stack else (None if sid == self.call_id else self.call_id),
            "name": name,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            self.spans.append(rec)

    def timed(self, name: str, fn, count_jobs: bool = False):
        """Wrap ``fn`` so each call made while tracing is on is a span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                j0 = self.next_job() if count_jobs else 0
                try:
                    return fn(*args, **kwargs)
                finally:
                    if count_jobs:
                        rec["jobs"] = self.next_job() - j0

        return wrapper

    def timed_memo(self, fn):
        """Wrap ``memo.memo``: a call whose ``build`` never runs is a hit;
        the build itself is a child span."""

        @functools.wraps(fn)
        def wrapper(spark, sf_dir, key, build):
            if not self.active:
                return fn(spark, sf_dir, key, build)

            def timed_build():
                with self.span("memo.build", key=key):
                    return build()

            with self.span("memo", key=key) as rec:
                n0 = len(self.spans)
                try:
                    return fn(spark, sf_dir, key, timed_build)
                finally:
                    rec["hit"] = not any(
                        s["name"] == "memo.build" and s["parent"] == rec["id"]
                        for s in self.spans[n0:]
                    )

        return wrapper

    # -- Spark handles ----------------------------------------------------

    def bind(self, spark) -> None:
        """Point the tracer at a (new) SparkContext."""
        self._jsc = spark.sparkContext._jsc.sc()
        self._seen_stages = set()

    def next_job(self) -> int:
        """The id the scheduler gives the next job; ids are dense."""
        return self._jsc.dagScheduler().nextJobId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status store and the progress listener are complete."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def listen(self, spark, on: bool) -> None:
        """Add or remove the progress listener on this session."""
        if on and self.listener is None:
            self.listener = _progress_listener(self._batches)
            spark.streams.addListener(self.listener)
        elif not on and self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None

    # -- one key call -----------------------------------------------------

    def call(self, spark, key: str, pass_no: int, build, materialize):
        """Run one key call in three phases, then read its counters."""
        self.call_id = cid = next(self._ids)
        j0 = self.next_job()
        t0 = time.perf_counter()
        try:
            with self.span("call", sid=cid, key=key, pass_no=pass_no):
                with self.span("build"):
                    df = build()
                j1 = self.next_job()
                with self.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.span("exec"):
                    out = materialize(df)
        except BaseException:
            self.call_id = None  # a failed call leaves its spans, no record
            raise
        j2 = self.next_job()
        wall = time.perf_counter() - t0
        self.drain()
        rec = {"call": cid, "key": key, "pass_no": pass_no, "wall_s": wall}
        rec.update({f"phase.{p}": 0.0 for p in ("build", "plan", "exec")})
        for s in self.spans:
            if s["call"] == cid and s["parent"] == cid:
                rec[f"phase.{s['name']}"] = s["end"] - s["start"]
        rec["build_jobs"], rec["exec_jobs"] = j1 - j0, j2 - j1
        rec.update(self._job_counters(j0, j2))
        rec["batches"] = self._take_batches(cid)
        self.calls.append(rec)
        self.call_id = None
        return out

    def _job_counters(self, j0: int, j1: int) -> dict:
        """Sum stage counters over jobs [j0, j1).  Each stage counts once,
        skipped stages not at all."""
        from py4j.protocol import Py4JJavaError

        store = self._jsc.statusStore()
        c = defaultdict(float)
        for job in range(j0, j1):
            try:
                ids = store.job(job).stageIds().mkString(",")
            except Py4JJavaError:
                continue  # an id the scheduler gave out but never posted
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in self._seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_mb"] += st.inputBytes() / MB
                c["input_rows"] += st.inputRecords()
                c["output_mb"] += st.outputBytes() / MB
                c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += st.diskBytesSpilled() / MB
        return dict(c)

    def _take_batches(self, cid: int) -> list[dict]:
        """Give the micro-batches reported so far to call ``cid``, each as
        a span starting at its trigger time."""
        n = len(self._batches)  # the listener may append meanwhile
        taken = self._batches[:n]
        del self._batches[:n]
        for b in taken:
            start = b["epoch"] - self.epoch0 - self.t0
            self.spans.append(
                {
                    "id": next(self._ids),
                    "call": cid,
                    "parent": cid,
                    "name": "micro_batch",
                    "start": start,
                    "end": start + b["duration_ms"].get("triggerExecution", 0) / 1e3,
                    "run_id": b["run_id"],
                    "batch_id": b["batch_id"],
                    "input_rows": b["input_rows"],
                }
            )
        return taken

    # -- per-pass metrics -------------------------------------------------

    def pass_metrics(self, pass_no: int) -> dict[str, float]:
        """Every layer metric of one traced pass."""
        calls = [c for c in self.calls if c["pass_no"] == pass_no]
        ids = {c["call"] for c in calls}
        spans = [s for s in self.spans if s["call"] in ids]

        by_id = {s["id"]: s for s in spans}

        def nested(s, name):
            """Whether an ancestor of span ``s`` is also called ``name``."""
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        def total(name):
            """Time in spans called ``name``, counting nested ones once."""
            return sum(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == name and not nested(s, name)
            )

        def count(name):
            return sum(1 for s in spans if s["name"] == name)

        def csum(field):
            return sum(c.get(field, 0.0) for c in calls)

        m: dict[str, float] = {}
        m["session.prepare_calls"] = count("session.prepare")
        m["session.prepare_s"] = total("session.prepare")
        m["io.load_table_calls"] = count("io.load_table")
        m["io.load_table_s"] = total("io.load_table")
        m["io.load_table_jobs"] = sum(
            s.get("jobs", 0) for s in spans if s["name"] == "io.load_table"
        )
        m["io.spread_calls"] = count("io.spread")
        m["io.input_mb"] = csum("input_mb")
        m["io.input_rows"] = csum("input_rows")
        m["operators.build_s"] = csum("phase.build")
        m["operators.build_jobs"] = csum("build_jobs")
        m["catalyst.plan_s"] = csum("phase.plan")
        m["exec.s"] = csum("phase.exec")
        m["exec.jobs"] = csum("exec_jobs")
        for f in (
            "stages", "tasks", "failed_tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
            "spill_mb", "output_mb",
        ):
            m[f"exec.{f}"] = csum(f)
        wall = csum("wall_s")
        m["exec.core_idle_ratio"] = (
            1 - m["exec.executor_run_s"] / (self.cores * wall) if wall else 0.0
        )
        memos = [s for s in spans if s["name"] == "memo"]
        m["memo.calls"] = len(memos)
        m["memo.hits"] = sum(1 for s in memos if s["hit"])
        m["memo.hit_ratio"] = m["memo.hits"] / len(memos) if memos else 0.0
        m["memo.build_s"] = total("memo.build")
        m["harness.replay_chunks_s"] = total("harness.replay_chunks")
        m["harness.run_to_memory_calls"] = count("harness.run_to_memory")
        m.update(_stream_metrics(calls, spans))
        return m


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Appends one record per finished micro-batch to ``sink``."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "epoch": _epoch(p.timestamp),
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows_total": s.numRowsTotal,
                            "memory_bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def _epoch(ts: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _stream_metrics(calls: list[dict], spans: list[dict]) -> dict[str, float]:
    batches = [b for c in calls for b in c["batches"]]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]

    def dur(field):
        return float(sum(b["duration_ms"].get(field, 0) for b in batches))

    m: dict[str, float] = {
        "stream.lifecycles": len({b["run_id"] for b in batches}),
        "stream.batches": len(batches),
        "stream.empty_batch_ratio": (
            sum(1 for b in batches if b["input_rows"] == 0) / len(batches)
            if batches
            else 0.0
        ),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.trigger_ms": float(sum(trig)),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
    }
    m["stream.rows_per_s"] = (
        m["stream.input_rows"] / (m["stream.trigger_ms"] / 1e3) if sum(trig) else 0.0
    )
    m["stream.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
    m["stream.batch_p90_ms"] = (
        statistics.quantiles(trig, n=10)[8] if len(trig) > 1 else float(sum(trig))
    )
    peak_rows: dict[str, int] = defaultdict(int)
    peak_mem: dict[str, int] = defaultdict(int)
    commit = 0.0
    for b in batches:
        peak_rows[b["run_id"]] = max(
            peak_rows[b["run_id"]], sum(s["rows_total"] for s in b["state"])
        )
        peak_mem[b["run_id"]] = max(
            peak_mem[b["run_id"]], sum(s["memory_bytes"] for s in b["state"])
        )
        commit += sum(s["commit_ms"] for s in b["state"])
    m["state.rows_total"] = sum(peak_rows.values())
    m["state.memory_mb"] = sum(peak_mem.values()) / MB
    m["state.commit_ms"] = commit
    # lifecycle wall outside the triggers: run_to_memory time that no
    # micro-batch of a query started inside it accounts for
    rtm = [s for s in spans if s["name"] == "harness.run_to_memory"]
    inside = sum(
        s["end"] - s["start"]
        for s in spans
        if s["name"] == "micro_batch"
        and any(r["start"] <= s["start"] <= r["end"] for r in rtm)
    )
    m["harness.lifecycle_overhead_s"] = sum(r["end"] - r["start"] for r in rtm) - inside
    return m


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions.  Must run before
    ``kafkastreaming_spark.all`` (and any operator module) is imported."""
    if "kafkastreaming_spark.all" in sys.modules:
        raise RuntimeError("install the tracer before importing kafkastreaming_spark.all")
    # session first: io binds ``prepare`` by name when it is imported
    import kafkastreaming_spark.session as session

    session.prepare = tracer.timed("session.prepare", session.prepare)
    import kafkastreaming_spark.io as io

    io.load_table = tracer.timed("io.load_table", io.load_table, count_jobs=True)
    io.spread = tracer.timed("io.spread", io.spread)
    import kafkastreaming_spark.memo as memo

    memo.memo = tracer.timed_memo(memo.memo)
    import kafkastreaming_spark.streaming.harness as harness

    harness.replay_chunks = tracer.timed("harness.replay_chunks", harness.replay_chunks)
    harness.run_to_memory = tracer.timed("harness.run_to_memory", harness.run_to_memory)


def median_metrics(per_pass: list[dict[str, float]]) -> dict[str, float]:
    """Metric-wise median over traced passes."""
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def write_spans(path: str, tracer: Tracer, meta: dict) -> None:
    with open(path, "w") as f:
        json.dump(
            {"meta": meta, "calls": tracer.calls, "passes": tracer.passes, "spans": tracer.spans},
            f,
        )
