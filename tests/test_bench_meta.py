"""bench.py protocol pieces: the one timing loop, the headline/harness
key split, the stdout contract line, and the per-key regression gate."""

from __future__ import annotations

import importlib
import os


def test_time_call_excludes_warm_run(monkeypatch):
    """bench.time_call is the one timing loop: one warm call whose time is
    returned apart, then exactly ``repeats`` timed samples — and a failing
    callable raises to the caller, which records it under ``errors``."""
    import types

    import pytest

    import bench

    clock = [0.0]
    durations = [5.0, 1.0, 2.0, 3.0]  # the warm call is the slow one
    calls = []

    def fn():
        clock[0] += durations[len(calls)]
        calls.append(1)

    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0])
    )
    warm, samples = bench.time_call(fn, 3)
    assert len(calls) == 3 + 1
    assert len(samples) == 3
    assert warm == 5.0
    assert samples == [1.0, 2.0, 3.0]  # the warm duration is not a sample

    def broken():
        calls.append(1)
        if len(calls) == 2:  # the first timed call fails
            raise ValueError("boom")

    calls.clear()
    with pytest.raises(ValueError, match="boom"):
        bench.time_call(broken, 3)
    assert len(calls) == 2


def test_harness_keys_consistent_with_registry():
    """bench.HARNESS_KEYS must be real registered+oracled keys, and the
    headline set must stay the 273-key BASELINE.md protocol inventory."""
    import bench
    from kafkastreaming_spark.all import ORACLES, QUERIES

    assert bench.HARNESS_KEYS <= set(QUERIES)
    assert bench.HARNESS_KEYS <= set(ORACLES)  # all hash-oracled since r10
    # 273-key r9 protocol set + 2 engine keys added r10 (agg_bitmap_native,
    # source_binaryfile) + 5 added r11 (events_survival, events_ks_test,
    # llm_bloom_membership, ts_sax, udtf_analyze) + 6 added r12
    # (agg_count_min, fn_try, llm_filter_funnel, stream_dedup_watermark,
    # ts_m4, sql_script); per-round headline counts are recorded in BASELINE.md so
    # totals are compared per-key, never raw-total-to-raw-total
    assert len(set(ORACLES) - bench.HARNESS_KEYS) == 286


def _newest_detail_with_canary():
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    best = None
    for p in sorted(glob.glob(os.path.join(repo, "BENCH_DETAIL_r*.json"))):
        with open(p) as f:
            d = json.load(f)
        # The r8 idle reference ran the 32-core protocol; a detail file
        # stamped with a different core count (the driver's end-of-round
        # scaling run, or a local quick pass) is not comparable — r17
        # inherited a red gate because the driver's 8-core run landed as
        # the newest detail.  Files predating the "cpus" field are all
        # 32-core runs.
        if d.get("cpus") not in (None, 32):
            continue
        if d.get("canary") and d.get("queries") and not d.get("partial"):
            best = (p, d)
    return best


def test_bench_regression_gate_vs_r08_idle():
    """Per-key regression gate (r11, VERDICT r10 item 6): every carried
    key's median in the newest canary-carrying BENCH_DETAIL must stay
    within 2x of its BENCH_DETAIL_r08 idle value AFTER normalizing for
    box speed — so a real plan regression fails CI before a driver bench
    round records it, while pure environmental drift does not.

    Box-speed normalization: the canary times a fixed shuffle probe
    before and after the suite; r8's idle box corresponds to ~0.224 s
    (the r10 post-run value, BASELINE.md).  The gate scales its budget
    by the WORSE of the run's two canaries (a loaded box legitimately
    slows every key) and skips keys either round flagged noisy
    (per-repeat spread > 2x)."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_DETAIL_r08.json")) as f:
        r8 = json.load(f)
    found = _newest_detail_with_canary()
    assert found is not None, "no BENCH_DETAIL with canary data yet"
    path, cur = found
    canary = cur["canary"]
    IDLE_SHUFFLE_SEC = 0.224
    box_factor = max(
        1.0,
        max(canary["pre"]["shuffle_sec"], canary["post"]["shuffle_sec"])
        / IDLE_SHUFFLE_SEC,
    )
    noisy = set(r8.get("noisy", [])) | set(cur.get("noisy", []))
    # sub-0.3s keys are dominated by fixed job-submission overhead where
    # the 2x bar is all jitter; the gate is for real per-key work
    FLOOR_SEC = 0.3
    offenders = {}
    for key, base in r8["queries"].items():
        now = cur["queries"].get(key)
        if now is None or key in noisy:
            continue
        if base < FLOOR_SEC and now < FLOOR_SEC * 2 * box_factor:
            continue
        if now > 2.0 * box_factor * max(base, FLOOR_SEC):
            offenders[key] = {
                "r08_sec": base,
                "now_sec": now,
                "budget": round(2.0 * box_factor * max(base, FLOOR_SEC), 3),
            }
    assert offenders == {}, (
        f"{path} (box_factor {box_factor:.2f}): keys beyond the "
        f"canary-normalized 2x budget vs r8 idle: {offenders}"
    )


def test_contract_line_packs_slowest_within_budget():
    """r17 (VERDICT r16 items 2/4): the one-line JSON must carry as many
    slowest keys as fit the driver's 2000-char tail capture — always
    including the old slowest-5 subset — and stay parseable."""
    import json

    import bench

    base = {"metric": "suite_wall_sec", "value": 1.0, "unit": "sec"}
    per_query = {f"some_query_key_{i:03d}": round(0.1 + i * 0.01, 3) for i in range(300)}
    line = bench.contract_line(base, per_query)
    assert len(line) <= 1800
    parsed = json.loads(line)
    got = parsed["queries"]
    # slowest keys first: the max-time key is present, and every included
    # key is >= every excluded key
    slowest = sorted(per_query, key=per_query.get, reverse=True)
    assert slowest[0] in got
    assert set(got) == set(slowest[: len(got)])
    assert len(got) >= 5  # never narrower than the r16 slowest-5 line
    assert got[slowest[0]] == per_query[slowest[0]]


def test_contract_line_small_suite_is_complete():
    import json

    import bench

    base = {"metric": "suite_wall_sec", "value": 1.0, "unit": "sec"}
    per_query = {"a": 1.0, "b": 2.0}
    parsed = json.loads(bench.contract_line(base, per_query))
    assert parsed["queries"] == {"b": 2.0, "a": 1.0}
