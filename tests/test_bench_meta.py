"""bench.py protocol pieces: the one timing loop, the headline/harness
key split and the stdout contract line."""

from __future__ import annotations


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
