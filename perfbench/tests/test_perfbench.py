"""Tests of the benchmark itself.  None of them starts a JVM.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
import workload as wl  # noqa: E402

CONTRACT = wl.load_contract(ROOT)
SPEC = wl.load_spec()


def _synthetic_tracer() -> layers.Tracer:
    """A tracer holding one set-up pass (0) and one traced pass (1), each
    with one key call that ran a memo build, a load_table, a
    run_to_memory lifecycle and two micro-batches."""
    tr = layers.Tracer(cores=4)
    for pass_no in (0, 1):
        cid = 100 + pass_no
        base = 10.0 * pass_no
        spans = [
            ("call", cid, None, 0.0, 2.0, {}),
            ("build", cid + 10, cid, 0.0, 1.5, {}),
            ("plan", cid + 20, cid, 1.5, 1.6, {}),
            ("exec", cid + 30, cid, 1.6, 2.0, {}),
            ("io.load_table", cid + 40, cid + 10, 0.1, 0.3, {"jobs": 1}),
            ("session.prepare", cid + 41, cid + 40, 0.1, 0.11, {}),
            ("memo", cid + 50, cid + 10, 0.3, 0.8, {"key": "m", "hit": pass_no == 1}),
            ("harness.replay_chunks", cid + 60, cid + 10, 0.8, 0.9, {}),
            ("harness.run_to_memory", cid + 70, cid + 10, 0.9, 1.4, {}),
        ]
        if pass_no == 0:
            spans.append(("memo.build", cid + 51, cid + 50, 0.3, 0.8, {"key": "m"}))
        for name, sid, parent, a, b, attrs in spans:
            tr.spans.append(
                {"id": sid, "call": cid, "parent": parent, "name": name,
                 "start": base + a, "end": base + b, **attrs}
            )
        batches = []
        for i, rows in enumerate((10, 0)):
            start = base + 1.0 + 0.2 * i
            tr.spans.append(
                {"id": cid + 80 + i, "call": cid, "parent": cid, "name": "micro_batch",
                 "start": start, "end": start + 0.1}
            )
            batches.append(
                {"run_id": "r", "batch_id": i, "epoch": 0.0, "input_rows": rows,
                 "duration_ms": {"triggerExecution": 100, "addBatch": 60,
                                 "walCommit": 10, "commitOffsets": 10,
                                 "latestOffset": 5, "getBatch": 1,
                                 "queryPlanning": 3},
                 "state": [{"rows_total": 3, "memory_bytes": 2048, "commit_ms": 7}]}
            )
        tr.calls.append(
            {"call": cid, "key": "k", "pass_no": pass_no, "wall_s": 2.0,
             "phase.build": 1.5, "phase.plan": 0.1, "phase.exec": 0.4,
             "build_jobs": 2, "exec_jobs": 1, "stages": 3, "tasks": 12,
             "executor_run_s": 2.0, "batches": batches}
        )
        tr.passes.append({"pass_no": pass_no, "traced": pass_no == 1, "jobs": 3})
    return tr


def test_contract_file_shape():
    assert set(CONTRACT) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [m["name"] for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in CONTRACT["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in CONTRACT["end_to_end"])


def test_workload_table_matches_contract():
    assert [w["name"] for w in CONTRACT["workloads"]] == list(SPEC["workloads"])
    for w in CONTRACT["workloads"]:
        assert w["why"] == SPEC["workloads"][w["name"]]["why"]
    layer_metrics = [m for layer in SPEC["layers"].values() for m in layer["metrics"]]
    assert layer_metrics == [m["name"] for m in CONTRACT["per_layer"]]


def test_workload_keys_are_registered():
    from kafkastreaming_spark.all import ORACLES, QUERIES

    for name in SPEC["workloads"]:
        for key in wl.select_keys(SPEC, name, QUERIES):
            assert key in ORACLES


def test_end_to_end_output_names_every_metric_with_its_unit():
    values = {m["name"]: 1.5 for m in CONTRACT["end_to_end"]}
    line = json.loads(
        wl.result_line(True, 3, 0, wl.metrics_block(CONTRACT["end_to_end"], values))
    )
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    for m in CONTRACT["end_to_end"]:
        assert line["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_trace_output_names_every_per_layer_metric_with_its_unit():
    tr = _synthetic_tracer()
    timed = [(1, 2.5, True), (2, 2.0, False)]
    values = run.trace_values(tr, timed, rounds=1, session_start=5.0)
    values["process.peak_pss_mb"] = 1000.0  # sampled from /proc by run()
    block = wl.metrics_block(CONTRACT["per_layer"], values)
    assert list(block) == [m["name"] for m in CONTRACT["per_layer"]]
    for m in CONTRACT["per_layer"]:
        assert block[m["name"]]["unit"] == m["unit"]
    # spot-check the arithmetic of the synthetic pass
    assert block["memo.setup_build_s"]["value"] == pytest.approx(0.5)
    assert block["memo.build_s"]["value"] == 0.0
    assert block["memo.hit_ratio"]["value"] == 1.0
    assert block["io.load_table_jobs"]["value"] == 1
    assert block["session.prepare_s"]["value"] == pytest.approx(0.01)
    assert block["stream.batches"]["value"] == 2
    assert block["stream.empty_batch_ratio"]["value"] == 0.5
    assert block["stream.rows_per_s"]["value"] == pytest.approx(50.0)
    assert block["harness.lifecycle_overhead_s"]["value"] == pytest.approx(0.3)
    assert block["exec.core_idle_ratio"]["value"] == pytest.approx(0.75)
    assert block["trace.overhead_s"]["value"] == pytest.approx(0.5)
    assert block["trace.span_sum_ratio"]["value"] == pytest.approx(1.0)
    assert block["trace.unattributed_jobs"]["value"] == 0


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        wl.metrics_block(CONTRACT["end_to_end"], {"setup_s": 1.0})


def test_key_that_raises_is_failed_and_the_pass_goes_on():
    def call(key):
        if key == "bad":
            raise RuntimeError("boom")
        return key.upper()

    results = {}
    calls = wl.run_pass(["a", "bad", "c"], call, pass_no=0, results=results)
    assert [c.key for c in calls] == ["a", "bad", "c"]
    assert [c.error is None for c in calls] == [True, False, True]
    assert "boom" in calls[1].error
    assert results == {"a": "A", "c": "C"}
    verdicts = wl.check_results(
        results, ["a", "bad", "c"], lambda k: k.upper(), lambda x, y: (x == y, "")
    )
    assert verdicts == {"a": None, "bad": "no result", "c": None}
    attempted, failed, reasons = wl.tally(calls, verdicts)
    assert (attempted, failed) == (3, 1)
    assert set(reasons) == {"bad"}


def test_altered_result_is_caught_by_the_oracle_check():
    import duckdb
    from kafkastreaming_spark.all import ORACLES
    from tools.verify_local import TABLES

    key = "sink_parquet"
    sf_dir = os.path.join(ROOT, SPEC["fixtures"])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    good = con.execute(ORACLES[key]).df()
    con.close()
    altered = good.copy()
    col = altered.select_dtypes("number").columns[0]
    altered.loc[altered.index[0], col] = altered[col].iloc[0] + 1

    verdicts = run.oracle_check(ROOT, sf_dir, {key: good.copy()}, [key], ORACLES)
    assert verdicts == {key: None}
    verdicts = run.oracle_check(ROOT, sf_dir, {key: altered}, [key], ORACLES)
    assert verdicts[key].startswith("mismatch")
    attempted, failed, _ = wl.tally([wl.Call(key, 0, 1.0)], verdicts)
    assert (attempted, failed) == (1, 1)


def test_same_seed_same_order_other_seed_other_order():
    keys = [f"k{i}" for i in range(8)]
    assert wl.key_order(keys, 7, 3) == wl.key_order(list(reversed(keys)), 7, 3)
    assert sorted(wl.key_order(keys, 7, 3)) == keys
    passes = range(6)
    same = [wl.key_order(keys, 7, p) for p in passes]
    other = [wl.key_order(keys, 8, p) for p in passes]
    assert same == [wl.key_order(keys, 7, p) for p in passes]
    assert same != other
    assert len({tuple(o) for o in same}) > 1  # passes of one run differ too


def test_query_gmean_weighs_every_key_the_same():
    calls = [
        wl.Call("slow", 1, 4.0),
        wl.Call("fast", 1, 1.0),
        wl.Call("slow", 2, 4.0),
        wl.Call("fast", 3, 1.0),
        wl.Call("slow", 3, 16.0),
    ]
    medians = wl.key_medians(calls, ["slow", "fast", "never"], lambda c: c.seconds)
    assert medians == {"slow": 4.0, "fast": 1.0}
    assert wl.gmean(medians.values()) == pytest.approx(2.0)
    assert wl.gmean([]) == 0.0


def test_own_time_takes_out_the_stolen_share():
    stolen = wl.Call("k", 0, 2.0, cpu_s=3.0, stolen_s=1.0)
    assert stolen.own_seconds == pytest.approx(1.5)
    assert wl.Call("k", 0, 2.0, cpu_s=3.0).own_seconds == 2.0  # nothing stolen
    assert wl.Call("k", 0, 2.0).own_seconds == 2.0  # not metered
    assert wl.stolen_s() >= 0.0
    assert wl.tree_cpu_s([os.getpid()]) > 0.0


def test_run_pass_meters_each_call():
    marks = iter([(1.0, 0.5), (3.0, 1.0), (3.0, 1.0), (4.0, 1.0)])
    calls = wl.run_pass(["a", "b"], lambda k: k, 0, usage=lambda: next(marks))
    assert [(c.cpu_s, c.stolen_s) for c in calls] == [(2.0, 0.5), (1.0, 0.0)]
