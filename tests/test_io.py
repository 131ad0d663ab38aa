"""load_table's events-timestamp shim must accept every encoding the
fixture generator has shipped (int64 nanos in rounds 1–3, plain
TIMESTAMP_NTZ micros from round 4) and normalize both to a session-UTC
TIMESTAMP — a silent encoding flip broke 19 driver keys in round 4."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T

from kafkastreaming_spark.io import TABLES, load_table, spread, table_rows

_MICROS = 1_705_312_800_000_000  # 2024-01-15 10:00:00 UTC


def _write_events(spark, tmpdir: str, ts_value, ts_type) -> str:
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(1, ts_value, 7, "click", 1.5, "{}")], schema)
    df.write.mode("overwrite").parquet(os.path.join(tmpdir, "events.parquet"))
    return tmpdir


def _loaded_ts(spark, sf_dir: str):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    return df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")).first()["s"]


def test_load_table_accepts_int64_nanos(spark, tmp_path):
    d = _write_events(spark, str(tmp_path / "ns"), _MICROS * 1000, T.LongType())
    assert _loaded_ts(spark, d) == "2024-01-15 10:00:00"


def test_load_table_accepts_ntz_micros(spark, tmp_path):
    import datetime

    naive = datetime.datetime(2024, 1, 15, 10, 0, 0)
    d = _write_events(spark, str(tmp_path / "ntz"), naive, T.TimestampNTZType())
    assert _loaded_ts(spark, d) == "2024-01-15 10:00:00"


def _write_events_arrow(tmpdir: str, ts_arrow_type, int96: bool = False) -> str:
    """Write the fixture with pyarrow so the parquet logical type is exact
    (Spark's writer can't emit tz-aware TIMESTAMP(MICROS) or INT96 from a
    TimestampNTZ column without session-level config flips)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # int64 → timestamp cast reinterprets the integer in the target unit
    scale = 1000 if ts_arrow_type.unit == "ns" else 1
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([_MICROS * scale], pa.int64()).cast(ts_arrow_type),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    os.makedirs(os.path.join(tmpdir, "events.parquet"), exist_ok=True)
    pq.write_table(
        table,
        os.path.join(tmpdir, "events.parquet", "part-0.parquet"),
        use_deprecated_int96_timestamps=int96,
    )
    return tmpdir


def test_load_table_accepts_tz_aware_micros(spark, tmp_path):
    """Third plausible fixture encoding: TIMESTAMP(MICROS) with
    isAdjustedToUTC=true — Spark reads it as TimestampType directly and the
    shim must pass it through unshifted."""
    import pyarrow as pa

    d = _write_events_arrow(str(tmp_path / "tz"), pa.timestamp("us", tz="UTC"))
    assert _loaded_ts(spark, d) == "2024-01-15 10:00:00"


def test_load_table_accepts_int96(spark, tmp_path):
    """Legacy INT96 encoding (older Hive/Spark writers) — also lands as
    TimestampType under a UTC session."""
    import pyarrow as pa

    d = _write_events_arrow(
        str(tmp_path / "i96"), pa.timestamp("ns", tz="UTC"), int96=True
    )
    assert _loaded_ts(spark, d) == "2024-01-15 10:00:00"


def test_sink_compaction_shrinks_file_count_preserving_rows(spark, sf_dir):
    """The compaction rewrite must actually fix the layout: the small
    layout has 64 parquet files, the compacted one at most 4, and the
    profile the key returns must equal the same aggregate computed from
    the original table (no row lost/duplicated/altered)."""
    import glob
    import os

    from kafkastreaming_spark.all import QUERIES
    from kafkastreaming_spark.io import load_table
    from kafkastreaming_spark.operators.scans import _sink_path

    out = {r["event_type"]: r for r in QUERIES["sink_compaction"](spark, sf_dir).collect()}
    small = _sink_path("ks_spark_sink_compact_small", sf_dir)
    big = _sink_path("ks_spark_sink_compact_big", sf_dir)
    n_small = len(glob.glob(os.path.join(small, "*.parquet")))
    n_big = len(glob.glob(os.path.join(big, "*.parquet")))
    assert n_small == 64
    assert 1 <= n_big <= 4
    from pyspark.sql import functions as F

    want = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "bit_xor(CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT))"
            ).alias("id_hash_xor"),
        )
        .collect()
    }
    assert set(out) == set(want)
    for t in want:
        assert out[t]["n_events"] == want[t]["n_events"]
        assert out[t]["id_hash_xor"] == want[t]["id_hash_xor"]


def test_write_codec_default_is_zstd(spark, tmp_path):
    """r15 codec A/B promotion (SCALE_PROBE_r15 codec_ab_hundredfold):
    zstd strictly dominated snappy — 24% smaller files AND 27% faster
    scans over identical 60M rows, timing-neutral on the sf0.1 write
    keys — so the engine writes parquet with zstd by default.  Pin both
    the session conf and the bytes-on-disk effect so a Spark upgrade
    changing the default back to snappy is caught."""
    assert (
        spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    )
    out = str(tmp_path / "codec_pin")
    spark.range(100_000).selectExpr(
        "id", "CAST(id % 97 AS STRING) AS s"
    ).write.mode("overwrite").parquet(out)
    import pyarrow.parquet as pq
    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files
    md = pq.ParquetFile(os.path.join(out, files[0])).metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"


# ---------------------------------------------------------------------------
# Zero-job table metadata: a single local fixture file's inferred schema is
# reused and whole-table row counts come from the parquet footer.  Each load
# must still be a fresh relation, and a rewritten file must be read afresh.


def test_load_table_reuses_schema_without_a_job(spark, sf_dir, spark_jobs):
    for name in ("orders", "events", "embeddings"):
        first = load_table(spark, sf_dir, name)
        second, jobs = spark_jobs(lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, name
        assert second.schema == first.schema, name
    inferred = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    assert load_table(spark, sf_dir, "orders").schema == inferred
    # two loads are two relations: a self-join resolves and keeps every key
    a, b = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "orders")
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == a.count()


def test_load_table_rereads_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int32())}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema["id"].dataType == T.IntegerType()
    pq.write_table(pa.table({"id": pa.array(["a", "b", "c"], pa.string())}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema["id"].dataType == T.StringType()
    assert sorted(r["id"] for r in df.collect()) == ["a", "b", "c"]
    assert table_rows(spark, str(tmp_path), "t") == 3


def test_table_rows_reads_footer_and_matches_count(spark, sf_dir, spark_jobs):
    for name in TABLES:
        n, jobs = spark_jobs(lambda: table_rows(spark, sf_dir, name))
        assert jobs == 0, name
        assert n == load_table(spark, sf_dir, name).count(), name


def test_table_rows_falls_back_to_count_for_directory(spark, tmp_path, spark_jobs):
    d = str(tmp_path / "t.parquet")
    spark.range(37).repartition(3).write.mode("overwrite").parquet(d)
    n, jobs = spark_jobs(lambda: table_rows(spark, str(tmp_path), "t"))
    assert n == 37
    assert jobs > 0  # no footer shortcut: a real count() ran


def test_pool_jobs_carry_callers_job_group(spark, sf_dir, spark_jobs):
    """scan_union_schema submits its two writes from a thread pool; every
    job the call launches, pool threads' included, carries the caller's
    job group."""
    from kafkastreaming_spark.operators.scans import scan_union_schema

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    _, jobs = spark_jobs(lambda: scan_union_schema(spark, sf_dir))
    spanned = dag.nextJobId() - first
    assert spanned >= 3  # two writes and the merged read's footer pass
    assert jobs == spanned


# ---------------------------------------------------------------------------
# spread()'s layout gate (VERDICT r16 item 4): the no-op branches are what
# make the 18 hot-path spread sites safe at 100 TB — a regression that made
# spread fire on healthy layouts would tax every scan and nothing else in
# the suite would catch it.


def _single_rg(spark, tmp_path, name: str):
    """One parquet file with ONE row group (the sf-fixture layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / name)
    os.makedirs(p, exist_ok=True)
    pq.write_table(
        pa.table({"id": list(range(10_000))}),
        os.path.join(p, "part-0.parquet"),
    )
    return spark.read.parquet(p)


def test_spread_fires_on_single_row_group(spark, tmp_path):
    df = _single_rg(spark, tmp_path, "srg")
    out = spread(df, key="id", cores=16)
    assert out is not df
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == 16


def test_spread_noop_on_multi_row_group_layout(spark, tmp_path):
    """A healthy layout (many row groups >= cores//4) must pass through
    untouched — this is the 100 TB safety branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "mrg")
    os.makedirs(p, exist_ok=True)
    pq.write_table(
        pa.table({"id": list(range(10_000))}),
        os.path.join(p, "part-0.parquet"),
        row_group_size=500,  # 20 row groups
    )
    df = spark.read.parquet(p)
    assert spread(df, key="id", cores=16) is df  # 20 >= 16//4


def test_spread_noop_on_many_files(spark, tmp_path):
    """>256 input files = the layout already parallelizes (or is too
    expensive to probe): spread must not touch it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "manyfiles")
    os.makedirs(p, exist_ok=True)
    tbl = pa.table({"id": [1]})
    for i in range(260):
        pq.write_table(tbl, os.path.join(p, f"part-{i:04d}.parquet"))
    df = spark.read.parquet(p)
    assert spread(df, key="id", cores=4096) is df


def test_spread_noop_on_non_parquet_scan(spark, tmp_path):
    p = str(tmp_path / "csvsrc")
    spark.createDataFrame([(1,)], "id long").write.mode("overwrite").csv(p)
    df = spark.read.schema("id long").csv(p)
    assert spread(df, key="id", cores=64) is df


def test_spread_noop_without_file_scan(spark):
    df = spark.range(100)  # no file source below the plan
    assert spread(df, key="id", cores=64) is df


def test_prepare_sets_runtime_confs_and_keeps_the_rest(spark, sf_dir):
    """prepare() is the one home of the engine's SQL confs: after
    get_session and a load_table every key of ``_runtime_confs()`` reads
    its value, and a conf it does not name (AQE) keeps a runtime setting
    across the next load_table."""
    from kafkastreaming_spark.session import _runtime_confs

    load_table(spark, sf_dir, "orders")
    want = _runtime_confs()
    assert {k: spark.conf.get(k) for k in want} == want
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        load_table(spark, sf_dir, "orders")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")


def test_get_session_launches_without_engine_sql_confs(spark):
    """The builder passes launch-only settings: neither a key of
    ``_runtime_confs()`` nor an AQE conf is in the SparkConf the JVM
    started with (Spark itself adds ``spark.sql.warehouse.dir`` and
    ``spark.sql.artifact.isolation.enabled`` there)."""
    from kafkastreaming_spark.session import _runtime_confs

    launch = dict(spark.sparkContext.getConf().getAll())
    assert not set(launch) & set(_runtime_confs())
    assert not [k for k in launch if k.startswith("spark.sql.adaptive.")]


_AQE_OFF_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from tools.verify_local import _apply_axis

_apply_axis("aqe_off")
from kafkastreaming_spark.io import load_table
from kafkastreaming_spark.session import get_session

spark = get_session("aqe_off_axis", master="local[1]")
load_table(spark, sys.argv[2], "orders")
print(spark.conf.get("spark.sql.adaptive.enabled"))
spark.stop()
"""


def test_verify_local_aqe_off_axis_turns_aqe_off(sf_dir, tmp_path):
    """``verify_local --axis aqe_off`` runs its session with AQE off,
    still off after load_table has prepared the session."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    run = subprocess.run(
        [sys.executable, "-c", _AQE_OFF_CHILD, repo, sf_dir],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split()[-1] == "false"
