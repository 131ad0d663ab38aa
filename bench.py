"""Benchmark runner (driver contract).

Runs every hash-checked query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line ``{"metric": ..., "value": total_sec, "unit": "sec", "queries":
{key: sec, ...}, "sf": ...}``.

Protocol (BASELINE.md): one warm session, one warm-up run of the flagship
(discarded), a memo pre-warm pass, then per key ONE untimed warm run
(r13 — moves lazy one-time inits out of the measured window so the
spread metric means environment noise) followed by timed runs over full
materialization, median-of-3 (the default).  Set
``SPARK_GRAFT_BENCH_REPEATS=1`` for a quick single-shot pass while
iterating.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

# The 18 keys converted from rows-only to hash-oracled in r10.  Their
# wall time is dominated by the streaming replay harness, micro-batch
# scheduling, or Lloyd training loops — timed in the bench's harness
# section, never in the 273-key headline (protocol comparability with
# BASELINE.md / BENCH_r01-r09).
HARNESS_KEYS = {
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_hll_union",
    "agg_sketch_partial",
    "llm_ann_ivf_trained",
    "llm_ivf_train",
    "llm_minhash_lsh",
    "llm_pq_train",
    "llm_semdedup_trained",
    "sink_console",
    "sink_memory",
    "source_kafka",
    "stream_late_update",
    "stream_session_ttl",
    "stream_stateful",
    "stream_stream_join",
    "stream_stream_outer",
    "stream_watermark",
}


def time_call(fn, repeats: int) -> tuple[float, list[float]]:
    """The one timing loop: call ``fn`` once as a warm run (it absorbs
    codegen compiles and lazy one-time inits), then ``repeats`` timed
    calls.  Returns ``(warm_sec, samples)``; the warm call's duration is
    never among the samples.  An exception from ``fn``
    propagates, so the caller decides how to record it."""
    t0 = time.perf_counter()
    fn()
    warm = time.perf_counter() - t0
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return warm, samples


def _canary(spark) -> dict:
    """Box-speed canary (r10): fixed, data-independent work timed
    median-of-3, recorded next to the suite numbers so cross-round
    per-key diffs can separate 'host got slower' from 'plan regressed'
    (r9→r10 saw a broad ~1.2× drift on byte-identical code and data —
    SCALE_PROBE base_rows pin the data constant, so only the box moved).

    jvm: whole-stage-codegen arithmetic over range(200M) — pure CPU,
    no I/O, no shuffle.  shuffle: 2M-row exchange + count.  python: a
    fixed numpy matmul on the driver — the Arrow/pandas-kernel proxy.
    """
    import numpy as _np

    def med(fn):
        # the warm call discards the cold sample (codegen compile / first alloc)
        return round(statistics.median(time_call(fn, 3)[1]), 3)

    jvm = med(
        lambda: spark.range(200_000_000)
        .selectExpr("sum(id * 2 + 1) AS s")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    shuf = med(
        lambda: spark.range(2_000_000)
        .repartition(32, "id")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # fixed per-job overhead — the r10 drift diagnosis: r8→r10 per-key
    # deltas were near-UNIFORM in absolute seconds (~+0.2 s on every key,
    # cheap or expensive), i.e. scheduler/commit latency, not compute.
    # These two probes measure exactly that term.
    overhead = med(
        lambda: spark.range(1).write.format("noop").mode("overwrite").save()
    )
    ev = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
        + "/events.parquet"
    )
    pq_job = med(
        lambda: ev.limit(1).write.format("noop").mode("overwrite").save()
    )
    a = _np.arange(1_000_000, dtype=_np.float64).reshape(1000, 1000)
    py = med(lambda: (a @ a).sum())
    return {
        "jvm_sec": jvm,
        "shuffle_sec": shuf,
        "job_overhead_sec": overhead,
        "parquet_job_sec": pq_job,
        "numpy_sec": py,
    }


LINE_BYTES = 1800


def contract_line(base: dict, per_query: dict[str, float]) -> str:
    """Serialize the one-line stdout contract, packing as many slowest
    keys as fit ``LINE_BYTES`` (safely under the driver's 2000-char
    stdout-tail capture that truncated the 90-entry r1 line).
    Slowest-first, so the old slowest-5 set is always a subset: entries
    are only ever added, never dropped, relative to the r16 line."""
    qmap: dict[str, float] = {}
    line = json.dumps({**base, "queries": qmap}, separators=(",", ":"))
    for k in sorted(per_query, key=per_query.get, reverse=True):
        qmap[k] = per_query[k]
        cand = json.dumps({**base, "queries": qmap}, separators=(",", ":"))
        if len(cand) > LINE_BYTES:
            del qmap[k]
            break
        line = cand
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    from kafkastreaming_spark.all import ORACLES, QUERIES
    from kafkastreaming_spark.io import session_cores
    from kafkastreaming_spark.session import get_session
    from kafkastreaming_spark.streaming.harness import (
        release_sinks as _release_sinks,
    )

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM + codegen + parquet footer caches
    QUERIES["agg_group"](spark, sf_dir).count()

    # Memo pre-warm (VERDICT r11 item 5): session memos (shared cached
    # subtrees — signature tables, corpus matrices, edge lists, trained
    # centroids) are part of the measured protocol by design
    # (BASELINE.md residency note), but building them INSIDE a key's
    # timed repeats made those keys bimodal (llm_jaccard_dedup spread
    # 5.37, llm_cosine_clusters 4.17, graph_pagerank 5.99 in r11: first
    # repeat pays the build, later repeats sit in its GC shadow).  One
    # untimed materialization per memo-building key moves every build
    # out of the timed window; repeats then measure steady-state reuse.
    for key in (
        "llm_jaccard_dedup",    # jaccard_per_doc mask table
        "llm_minhash_det",      # minhash_per_doc signatures
        "llm_simhash_dedup",    # simhash_sig (5 consumers)
        "llm_cosine_nn",        # cosine_nn_bc corpus matrix broadcast
        "llm_cosine_clusters",  # cosine pair edges + components input
        "llm_dedup_clusters",   # banded-pair edge memo
        "llm_incremental_dedup",  # shares the band-table memo family
        "llm_semdedup",         # centroid-assign buckets
        "graph_triangles",      # triangle_edges 2-NN edge list
        "graph_pagerank",       # shared graph edge memos
        "graph_bfs",            # bfs edge memo
        "llm_pq_encode",        # pq_codes table
        "llm_pq_adc_topk",      # ADC LUT consumer of pq_codes/pq_train
        "llm_lm_score",         # bigram lm_model
        "llm_ivf_train",        # trained centroids (harness section)
        "llm_pq_train",         # PQ codebooks (harness section)
        "llm_semdedup_trained",  # trained assign memo (harness section)
    ):
        try:
            QUERIES[key](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — warm-up must never kill the run
            pass

    # Settle the JVM after the pre-warm allocations so the first timed
    # keys don't run inside its GC shadow (VERDICT r12 item 3: spreads
    # >2.4 with first-repeat outliers persisted on keys ALREADY in the
    # memo list — the build was out of the window but its garbage wasn't).
    try:
        spark._jvm.System.gc()  # noqa: SLF001 — bench-only JVM hint
        time.sleep(0.5)
    except Exception:  # noqa: BLE001
        pass

    canary_pre = _canary(spark)

    # Bench set = every hash-checked key EXCEPT the 18 HARNESS_KEYS —
    # 273 keys through r9, 275 in r10, 280 from r11 (agg_bitmap_native +
    # source_binaryfile landed r10; events_survival, events_ks_test,
    # llm_bloom_membership, ts_sax and udtf_analyze landed r11; ADVICE
    # r10 asked for this count reset to be explicit, and BASELINE.md's
    # protocol table now carries per-round key counts so cross-round
    # totals are compared per-key, never raw-total-to-raw-total).  The
    # 18 HARNESS_KEYS gained hash oracles in r10 (envelope/invariant/
    # batch-twin spellings) but their wall time measures replay-harness
    # I/O, micro-batch scheduling, or iterative training — not engine
    # throughput — so they stay in the separate harness section.
    # Every key gets ONE untimed warm run before its timed repeats.
    # First executions pay lazy one-time inits no memo pre-warm covers —
    # ICU collation tables (fn_collation 2.81 s → 0.34 s in r12), JCE
    # cipher/digest providers, Python DataSource registration + worker
    # spin-up, first Arrow/pandas kernels after a memo build, ORC/XML
    # reader classes, UDTF analyze-phase workers — and a named
    # cold-init allowlist just moved the first-sample outlier to
    # whichever family was named NEXT (r13: the r12 seven went to
    # spread ≤1.24 while sink_exactly_once/udtf_analyze/source_orc/…
    # popped above 2).  Warming uniformly makes the timed repeats pure
    # steady state, so spread >2 now MEANS environment noise
    # (VERDICT r12 item 3).  Medians move little (median-of-3 already
    # discarded one cold sample); the protocol note is in BASELINE.md.
    def time_keys(keys) -> dict:
        timed: dict[str, dict] = {
            "queries": {},
            "repeat_times": {},
            "warm_times": {},
            "spread": {},
            "errors": {},
        }
        for key in keys:

            def run() -> None:
                # noop sink: full materialization, no driver-side collection
                QUERIES[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            try:
                warm, samples = time_call(run, repeats)
            except Exception as exc:  # noqa: BLE001 — one broken key must
                # not take down the whole suite report (round 4: a fixture
                # schema change crashed the run and the driver recorded
                # nothing).
                timed["errors"][key] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            timed["queries"][key] = round(statistics.median(samples), 3)
            timed["repeat_times"][key] = [round(s, 3) for s in samples]
            # The warm run is excluded from the median but its cost must
            # stay auditable (ADVICE r13): warm_sec per key lets a
            # cross-round diff account for init cost the steady-state
            # medians no longer carry.
            timed["warm_times"][key] = round(warm, 3)
            _release_sinks(spark, keep=2)  # driver memory hygiene (harness.py)
            # max/min within one key's repeats: background-load outliers on
            # the same box show up as spread here, so a cross-round per-key
            # diff can mechanically separate "noisy environment" from "real
            # regression" (round 6: driver saw set_except at 4.03 s vs
            # 0.29 s committed with no plan change — nothing in the
            # artifact proved it was noise).
            timed["spread"][key] = round(max(samples) / max(min(samples), 1e-9), 2)
        return timed

    headline = time_keys(sorted(set(ORACLES) - HARNESS_KEYS))
    per_query = headline["queries"]
    errors = headline["errors"]
    spread = headline["spread"]

    # Harness-cost keys (sketch envelopes, trained indexes, streaming
    # replays — all hash-oracled since r10) are timed the SAME way but
    # reported in their own section (judge r7 item 6: every key needs a
    # performance trail) — excluded from suite_wall_sec so the headline
    # stays a pure engine-throughput number (BASELINE.md protocol;
    # per-round headline key counts recorded there).
    harness = time_keys(sorted((set(QUERIES) - set(ORACLES)) | HARNESS_KEYS))

    canary_post = _canary(spark)

    total = round(sum(per_query.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # A partial run (any key errored) must never be comparable against a
    # full-run baseline row: a crashing expensive key would make the suite
    # look faster.  Flag it and null the headline total.
    partial = bool(errors)

    # Per-query detail goes to a file: the driver captures only a tail of
    # stdout, and a 90-entry JSON line overflows it (BENCH_r01 "parsed": null).
    detail = {
        "metric": "suite_wall_sec",
        "value": None if partial else total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_val,
        "repeats": repeats,
        # Executor core count the run actually used (r17), so a reader
        # comparing two detail files can tell a deliberately downsized run
        # (say, an 8-core scaling run) from a plan regression.
        "cpus": session_cores(),
        "partial": partial,
        "errors": errors,
        "repeat_times": headline["repeat_times"],
        "warm_times": headline["warm_times"],
        "spread": spread,
        "noisy": sorted(k for k, s in spread.items() if s > 2.0),
        "canary": {"pre": canary_pre, "post": canary_post},
        "harness_section": {
            # renamed from "rows_only" in r16 (VERDICT r15 item 6): the
            # old name falsely implied these keys lack oracles — since
            # r10 every one is hash-oracled; the section means
            # "harness-cost keys outside the headline protocol set".
            # Tools diffing old artifacts read both names.
            "note": "hash-oracled harness keys (r10); excluded from headline",
            "queries": harness["queries"],
            "total_sec": round(sum(harness["queries"].values()), 3),
            "repeat_times": harness["repeat_times"],
            "warm_times": harness["warm_times"],
            "spread": harness["spread"],
            "errors": harness["errors"],
        },
    }
    # Canary-normalized diff vs the PREVIOUS run's detail (VERDICT r16
    # item 10), read before this run overwrites it: pure reporting, zero
    # protocol change.  Cross-run per-key comparisons keep getting
    # poisoned by host drift (r16: a 2.3x canary swing made 237 untouched
    # keys look regressed), so the detail file records the canary ratio
    # next to every per-key ratio — a reader can mechanically separate
    # "box got slower" from "plan regressed".
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                prev = json.load(f)
            pc, cc = prev.get("canary") or {}, detail["canary"]

            def peak(canary: dict, probe: str) -> float:
                return max(
                    (canary.get("pre") or {}).get(probe, 0),
                    (canary.get("post") or {}).get(probe, 0),
                )

            # a probe missing on either side is left out, not fatal
            canary_ratio = {
                probe: round(cur / pp, 3)
                for probe in ("jvm_sec", "shuffle_sec", "job_overhead_sec")
                if (cur := peak(cc, probe)) and (pp := peak(pc, probe))
            }
            detail["vs_prev"] = {
                "prev_file": os.path.basename(detail_path),
                "prev_cpus": prev.get("cpus"),
                "canary_ratio": canary_ratio,
                "per_key_ratio": {
                    k: round(per_query[k] / p, 3)
                    for k, p in (prev.get("queries") or {}).items()
                    if k in per_query and p
                },
            }
        except Exception:  # noqa: BLE001 — reporting must never kill a run
            pass

    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    # The machine-readable contract line: the LAST stdout line, and it must
    # fit the driver's 2000-char stdout-tail capture (the r1 overflow: a
    # 90-entry map with default separators truncated and parsed as null).
    # r16 printed only the 5 slowest keys, which blinded the driver's
    # PERF/scaling comparison to 2 common keys (VERDICT r16 item 2/4).
    # r17: pack as many slowest keys as fit a conservative byte budget
    # (compact separators; ~60 keys at 1800 bytes) — the top-5 of r16 are
    # always a subset, so entries are only ever ADDED round-over-round.
    base = {
        "metric": "suite_wall_sec",
        "value": None if partial else total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(per_query),
        "n_errors": len(errors),
        "partial": partial,
    }
    print(contract_line(base, per_query))
    spark.stop()
    if partial:
        sys.exit(3)


if __name__ == "__main__":
    main()
