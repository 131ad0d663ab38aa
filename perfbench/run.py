"""Layer benchmark for the kafkastreaming_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload llm-pipeline --seed 1 --seconds 10 --trace 0

One closed-loop client runs the workload's registered query keys one
after another on ``local[$SPARK_GRAFT_CPUS]`` over the sf0.01 fixtures in
``perfbench/fixtures``.  The seed sets the key order of every pass.

A run has three parts:

1. Set-up, three times: start a session (a new Spark application) and
   run one untimed pass of every key.  The first round counts from
   process start (imports, JVM launch) and collects each result for the
   oracle check; the next two each start a fresh application in the same
   JVM, with fresh memo and replay-chunk state, and write to the noop
   sink.  ``setup_s`` is the median of the three.
2. Timed passes, each key written to the noop sink: as many whole passes
   as fit in ``--seconds``, and at least two.  ``pass_s`` is the median
   pass time; ``query_gmean_s`` is the geometric mean over the keys of
   each key's median call time, so every key weighs the same however
   long it runs.
3. The oracle check, after Spark has stopped: each key's collected result
   against its DuckDB oracle (``tools/verify_local.compare``).  A key that
   raised or mismatched counts as failed.

Every end-to-end time is an own time: the wall time multiplied by the
share of the program's runnable time that ran, that is its CPU time over
its CPU time plus the time the hypervisor stole from this machine's CPUs
in the same interval.  On a machine whose CPUs are not shared the two are
equal.  On a shared 4-vCPU virtual machine the stolen share of a pass
ranged from 0 to 25% between runs and stretched the pass by about four
times that share, as work waited on a vCPU that was taken away; the own
time takes that out.  The wall times are in the summary line.

With ``--trace 1`` the set-up rounds are traced, and at least four timed
passes alternate untraced, traced, traced, untraced; the per-layer metrics
are medians over the traced passes (set-up figures over the set-up rounds,
see ``layers.py``) and the spans go to ``perfbench/out/``.  Workloads, keys and the layer map are in
``workloads.json``.

The last line of standard output is the result object; the line before it
is a summary with the environment, sample counts, ``failed_ratio``,
wall and own times per set-up round, per pass and per key.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workload as wl  # noqa: E402

USAGE_START = (wl.tree_cpu_s([os.getpid()]), wl.stolen_s())

SETUP_ROUNDS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(root: str, run_dir: str) -> dict:
    """Environment the program runs under; returns what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    # Python workers start from Spark's cwd, not ours: they need the root
    # on their path to unpickle functions from kafkastreaming_spark.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    # keep Python and JVM temp files (sink outputs, artifact dirs, JVM perf
    # data) inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # recomputed from TMPDIR on next use
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o
        for o in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
        )
        if o
    )
    return {"nproc": cpus, "cpus": int(os.environ["SPARK_GRAFT_CPUS"])}


def fresh_scratch(run_dir: str, round_no: int) -> None:
    """A new harness scratch root, so replay chunks are built again."""
    path = os.path.join(run_dir, f"scratch{round_no}")
    os.makedirs(path)
    os.environ["SPARK_GRAFT_SCRATCH"] = path


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
    }


class Engine:
    """The program under test: its registry, a session, key calls."""

    def __init__(self, sf_dir: str, tracer=None):
        self.sf_dir = sf_dir
        self.tracer = tracer
        from kafkastreaming_spark.all import ORACLES, QUERIES
        from kafkastreaming_spark.streaming.harness import release_sinks

        self.queries, self.oracles = QUERIES, ORACLES
        self._release_sinks = release_sinks
        self.spark = None

    def start(self) -> float:
        from kafkastreaming_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.bind(self.spark)
        return time.perf_counter() - t0

    def stop(self) -> None:
        from kafkastreaming_spark.memo import release

        if self.tracer is not None:
            self.tracer.listen(self.spark, False)
        self._release_sinks(self.spark, keep=0)
        release(self.spark)
        self.spark.stop()

    def build(self, key: str):
        self._release_sinks(self.spark, keep=2)  # driver memory hygiene
        return self.queries[key](self.spark, self.sf_dir)

    @staticmethod
    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    @staticmethod
    def collect(df):
        return df.toPandas()

    def caller(self, pass_no: int, materialize, traced: bool):
        if traced:
            def call(key):
                return self.tracer.call(
                    self.spark, key, pass_no, lambda: self.build(key), materialize
                )
        else:
            def call(key):
                return materialize(self.build(key))
        return call


def close_jvm(rss: wl.TreeRss):
    """Close the py4j gateway so the JVM starts to exit.  Returns a function
    that waits until the JVM and every process under it (Python workers)
    have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return lambda: None
    others = [p for p in rss.tree() if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at EOF on stdin

    def wait() -> None:
        if proc is not None:
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        pending = others
        deadline = time.monotonic() + 30
        while pending and time.monotonic() < deadline:
            pending = [p for p in pending if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pending:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass

    return wait


def oracle_check(root: str, sf_dir: str, results: dict, keys: list, oracles: dict):
    import duckdb

    sys.path.insert(0, root)
    from tools.verify_local import TABLES, compare

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return wl.check_results(
            results, keys, lambda k: con.execute(oracles[k]).df(), compare
        )
    finally:
        con.close()


def run(args, root: str, run_dir: str, rss: wl.TreeRss, env: dict) -> int:
    spec = wl.load_spec()
    contract = wl.load_contract(root)
    sf_dir = os.path.join(root, spec["fixtures"])
    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(env["cpus"])
        layers.install(tracer)
    eng = Engine(sf_dir, tracer)
    keys = wl.select_keys(spec, args.workload, eng.queries)

    def usage() -> tuple[float, float]:
        return wl.tree_cpu_s(rss.tree()), wl.stolen_s()

    def own(wall: float, u0: tuple[float, float]) -> float:
        u1 = usage()
        return wall * wl.run_share(u1[0] - u0[0], u1[1] - u0[1])

    calls: list[wl.Call] = []
    results: dict = {}
    setups: list[tuple[float, float]] = []  # (wall, own) seconds
    rounds = SETUP_ROUNDS
    session_start = None
    for r in range(rounds):
        fresh_scratch(run_dir, r)
        t0 = time.perf_counter()
        u0 = USAGE_START if r == 0 else usage()
        started = eng.start()
        session_start = session_start if session_start is not None else started
        if tracer is not None:
            tracer.active = True
            tracer.listen(eng.spark, True)
        first = r == 0
        materialize = eng.collect if first else eng.noop
        calls += wl.run_pass(
            wl.key_order(keys, args.seed, r),
            eng.caller(r, materialize, tracer is not None),
            r,
            results if first else None,
            usage,
        )
        wall = time.perf_counter() - (T_START if first else t0)
        setups.append((wall, own(wall, u0)))
        if r + 1 < rounds:
            eng.stop()

    # (pass_no, wall seconds, traced, own seconds)
    timed: list[tuple[int, float, bool, float]] = []
    deadline = time.perf_counter() + args.seconds
    pass_no = rounds
    while True:
        # traced passes alternate U T T U, so a warming trend cancels
        traced = tracer is not None and (pass_no - rounds) % 4 in (1, 2)
        if tracer is not None:
            tracer.active = traced
            tracer.listen(eng.spark, traced)
            j0 = tracer.next_job()
        t0 = time.perf_counter()
        pcalls = wl.run_pass(
            wl.key_order(keys, args.seed, pass_no),
            eng.caller(pass_no, eng.noop, traced),
            pass_no,
            usage=usage,
        )
        wall = time.perf_counter() - t0
        share = wl.run_share(
            sum(c.cpu_s for c in pcalls), sum(c.stolen_s for c in pcalls)
        )
        timed.append((pass_no, wall, traced, wall * share))
        if tracer is not None:
            tracer.passes.append(
                {"pass_no": pass_no, "traced": traced, "jobs": tracer.next_job() - j0}
            )
        calls += pcalls
        pass_no += 1
        # stop before a pass that would end past the deadline
        enough = len(timed) >= (4 if tracer is not None else 2)
        if enough and time.perf_counter() + timed[-1][1] > deadline:
            break

    rss.stop()
    if tracer is not None:
        tracer.active = False
    eng.stop()
    wait_jvm = close_jvm(rss)
    try:  # the JVM exits while DuckDB runs the oracles
        verdicts = oracle_check(root, sf_dir, results, keys, eng.oracles)
    finally:
        wait_jvm()
    attempted, failed, failures = wl.tally(calls, verdicts)
    untraced = [p for p in timed if not p[2]]
    untraced_nos = {p[0] for p in untraced}
    samples = [c for c in calls if c.pass_no in untraced_nos and not c.error]
    key_median = wl.key_medians(samples, keys, lambda c: c.own_seconds)

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": {**env, **versions(), "sf_dir": os.path.relpath(sf_dir, root)},
        "keys": keys,
        "failed_ratio": failed / attempted,
        "failures": failures,
        "setup_rounds_s": [s[1] for s in setups],
        "setup_rounds_wall_s": [s[0] for s in setups],
        "timed_passes_s": [p[3] for p in untraced],
        "timed_passes_wall_s": [p[1] for p in untraced],
        "query_samples": len(samples),
        "peak_pss_mb": rss.peak_bytes / 2**20,
        "peak_pss_mb_by_command": rss.peak_by_command,
        "setup_key_s": [
            {c.key: c.seconds for c in calls if c.pass_no == r} for r in range(rounds)
        ],
        "key_median_s": key_median,
        "key_median_wall_s": wl.key_medians(samples, keys, lambda c: c.seconds),
    }
    values = {
        "setup_s": statistics.median(s[1] for s in setups),
        "pass_s": statistics.median(p[3] for p in untraced),
        "query_gmean_s": wl.gmean(key_median.values()),
    }
    declared = contract["end_to_end"]
    if tracer is not None:
        import layers

        values = trace_values(tracer, timed, rounds, session_start)
        values["process.peak_pss_mb"] = rss.peak_bytes / 2**20
        declared = contract["per_layer"]
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        # per key: traced build + plan + exec against the untraced call time
        spans = {k: [] for k in keys}
        for c in tracer.calls:
            if c["pass_no"] >= rounds:
                spans[c["key"]].append(c["phase.build"] + c["phase.plan"] + c["phase.exec"])
        summary["key_span_ratio"] = {
            k: statistics.median(v) / summary["key_median_wall_s"][k]
            for k, v in spans.items()
            if v and k in summary["key_median_wall_s"]
        }
        layers.write_spans(path, tracer, summary)
        summary["spans_file"] = os.path.relpath(path, root)
    print(json.dumps(summary))
    print(
        wl.result_line(
            failed == 0, attempted, failed, wl.metrics_block(declared, values)
        )
    )
    return 0


def trace_values(tracer, timed, rounds: int, session_start: float) -> dict:
    """Per-layer metrics: medians over the traced passes, set-up figures
    as medians over the set-up rounds, and the tracing overhead."""
    import layers

    traced = [p for p in timed if p[2]]
    untraced = [p for p in timed if not p[2]]
    values = layers.median_metrics([tracer.pass_metrics(p[0]) for p in traced])
    setup = layers.median_metrics([tracer.pass_metrics(r) for r in range(rounds)])
    values["session.start_s"] = session_start
    values["memo.setup_build_s"] = setup["memo.build_s"]
    values["harness.setup_replay_chunks_s"] = setup["harness.replay_chunks_s"]
    u = statistics.median(p[1] for p in untraced)
    t = statistics.median(p[1] for p in traced)
    values["trace.untraced_pass_s"] = u
    values["trace.traced_pass_s"] = t
    values["trace.overhead_s"] = t - u
    values["trace.span_sum_ratio"] = (
        statistics.median(
            sum(
                c["phase.build"] + c["phase.plan"] + c["phase.exec"]
                for c in tracer.calls
                if c["pass_no"] == p[0]
            )
            for p in traced
        )
        / u
    )
    values["trace.unattributed_jobs"] = max(
        p["jobs"]
        - sum(
            c["build_jobs"] + c["exec_jobs"]
            for c in tracer.calls
            if c["pass_no"] == p["pass_no"]
        )
        for p in tracer.passes
        if p["traced"]
    )
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(HERE)
    for need in ("BENCHMARK.json", "kafkastreaming_spark/all.py", "tools/verify_local.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}", file=sys.stderr)
            return 2
    spec = wl.load_spec()
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    os.makedirs(run_dir)
    env = pin_env(root, run_dir)
    rss = wl.TreeRss().start()
    # Spark writes spark-warehouse/ and derby files to its cwd
    os.chdir(run_dir)
    try:
        return run(args, root, run_dir, rss, env)
    finally:
        rss.stop()
        close_jvm(rss)()
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
