"""Workload selection, the closed-loop pass runner, the oracle check and
the result line.  Nothing here imports Spark, so the tests run without a
JVM.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    """The workload table: key lists, prefixes, layers and their metrics."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def load_contract(root: str) -> dict:
    """``BENCHMARK.json`` at the checkout root: the metric names and units."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def select_keys(spec: dict, workload: str, registry) -> list[str]:
    """The workload's keys, checked against the registry and its prefixes."""
    w = spec["workloads"][workload]
    keys = list(w["keys"])
    missing = [k for k in keys if k not in registry]
    foreign = [k for k in keys if not k.startswith(tuple(w["prefixes"]))]
    if missing or foreign:
        raise ValueError(
            f"workload {workload}: keys not registered {missing}, "
            f"keys outside prefixes {w['prefixes']}: {foreign}"
        )
    return keys


def key_order(keys: list[str], seed: int, pass_no: int) -> list[str]:
    """Key order of one pass: a shuffle seeded by (seed, pass number).

    A string seed hashes with SHA-512 inside ``random``, so the order does
    not depend on PYTHONHASHSEED."""
    order = sorted(keys)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds the processes ``pids`` and their reaped children ran."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while being read
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def stolen_s() -> float:
    """CPU seconds the hypervisor has given to other guests while this
    machine's CPUs wanted to run (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def run_share(cpu_s: float, stolen: float) -> float:
    """Share of the runnable time that ran: CPU time over CPU time plus
    stolen time.  1.0 on a machine whose CPUs are not shared."""
    total = cpu_s + stolen
    return cpu_s / total if total > 0 else 1.0


@dataclass
class Call:
    key: str
    pass_no: int
    seconds: float
    error: str | None = None
    cpu_s: float = 0.0
    stolen_s: float = 0.0

    @property
    def own_seconds(self) -> float:
        """Call time with the host's share taken out: the wall time scaled
        by the share of the program's runnable time that ran."""
        return self.seconds * run_share(self.cpu_s, self.stolen_s)


def run_pass(
    keys: list[str],
    call: Callable[[str], object],
    pass_no: int,
    results: dict[str, object] | None = None,
    usage: Callable[[], tuple[float, float]] | None = None,
) -> list[Call]:
    """Run ``call(key)`` for each key, one after another (one closed-loop
    client).  A key that raises is recorded as failed and the pass goes on.
    When ``results`` is given, each key's return value is stored there.
    ``usage`` returns (program CPU seconds, host stolen seconds) so far;
    each call records how much of both it took."""
    calls = []
    for key in keys:
        u0 = usage() if usage else (0.0, 0.0)
        t0 = time.perf_counter()
        error = None
        try:
            out = call(key)
            if results is not None:
                results[key] = out
        except Exception as e:  # noqa: BLE001 — one key must not end the run
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        u1 = usage() if usage else (0.0, 0.0)
        calls.append(
            Call(key, pass_no, seconds, error, u1[0] - u0[0], u1[1] - u0[1])
        )
    return calls


def key_medians(
    calls: list[Call], keys: list[str], seconds: Callable[[Call], float]
) -> dict[str, float]:
    """Each key's median of ``seconds(call)`` over ``calls``; a key without
    calls is left out."""
    out = {}
    for key in keys:
        times = [seconds(c) for c in calls if c.key == key]
        if times:
            out[key] = statistics.median(times)
    return out


def gmean(values) -> float:
    """Geometric mean; 0.0 when there is nothing to average."""
    values = list(values)
    return statistics.geometric_mean(values) if values else 0.0


def check_results(
    results: dict[str, object],
    keys: list[str],
    oracle: Callable[[str], object],
    compare: Callable[[object, object], tuple[bool, str]],
) -> dict[str, str | None]:
    """Compare each key's collected result with its oracle result.

    Returns key -> None when it matched, else the reason it failed: no
    result (the key raised), the oracle raised, or the values differ."""
    verdicts: dict[str, str | None] = {}
    for key in keys:
        if key not in results:
            verdicts[key] = "no result"
            continue
        try:
            expected = oracle(key)
        except Exception as e:  # noqa: BLE001 — reported as a failed key
            verdicts[key] = f"oracle error: {type(e).__name__}: {e}"[:300]
            continue
        ok, msg = compare(results[key], expected)
        verdicts[key] = None if ok else f"mismatch: {msg}"
    return verdicts


def tally(
    calls: list[Call], verdicts: dict[str, str | None]
) -> tuple[int, int, dict[str, str]]:
    """(attempted, failed, reasons): every key call is attempted; a call
    that raised fails, and so does each key whose collected result did not
    match its oracle."""
    reasons = {c.key: c.error for c in calls if c.error}
    mismatched = {
        k: v for k, v in verdicts.items() if v is not None and v != "no result"
    }
    failed = sum(1 for c in calls if c.error) + len(mismatched)
    return len(calls), failed, reasons | mismatched


def metrics_block(
    declared: list[dict], values: dict[str, float]
) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every declared metric, in order.
    A declared metric without a value is an error, not a silent gap."""
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
    }


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, dict]
) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )


class TreeRss:
    """Samples the memory of this process and all its descendants (driver
    JVM, Python workers) from ``/proc`` and keeps the peak sum.

    Each process counts its proportional set size (PSS), so pages that
    forked Python workers share are counted once, not once per worker."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> TreeRss:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def tree(self) -> list[int]:
        pids, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue  # exited between listing and reading
        return pids

    def sample(self) -> int:
        by_command: dict[str, float] = {}
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(
                        int(line.split()[1]) * 1024
                        for line in f
                        if line.startswith("Pss:")
                    )
            except (OSError, StopIteration):
                continue  # exited while being read
            by_command[comm] = by_command.get(comm, 0) + pss
        total = int(sum(by_command.values()))
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_command = {k: v / 2**20 for k, v in by_command.items()}
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()
