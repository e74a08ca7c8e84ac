"""io's schema map: a table file's parquet schema is inferred once.

Schema inference is one Spark job per read in Spark 4.1; these tests pin
that a second read of an unchanged file launches none, that a rewrite
is seen, that every read is still a fresh relation, that the two
on-disk ``events.ts`` encodings survive the map, and what bypasses it.
"""

from __future__ import annotations

import os
import sys
import threading
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from hailstorm_spark import io as hio
from hailstorm_spark.io import load_table, table_path, table_schema


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    group = f"test-io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_io")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def _kv(n: int) -> pa.Table:
    return pa.table({"k": [i % 3 for i in range(n)], "v": list(range(n))})


def test_second_load_of_unchanged_file_launches_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", _kv(10))
    _, cold = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    df, warm = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert cold >= 1, "first read should infer the schema with a Spark job"
    assert warm == 0
    assert df.columns == ["k", "v"]
    assert df.count() == 10


def test_rewrite_by_rename_shows_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, _kv(4))
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    tmp = tmp_path / "t.parquet.tmp"
    _write(tmp, pa.table({"k": [1, 2], "w": ["a", "b"], "x": [0.5, 1.5]}))
    os.replace(tmp, path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "w", "x"]
    assert sorted(r["w"] for r in df.collect()) == ["a", "b"]
    assert table_schema(spark, str(tmp_path), "t").names == ["k", "w", "x"]


def test_two_loads_self_join_like_duckdb(spark, tmp_path):
    _write(tmp_path / "t.parquet", _kv(9))
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    got = sorted(
        tuple(r)
        for r in a.join(b, a.k == b.k)
        .select(a.k, a.v.alias("va"), b.v.alias("vb"))
        .collect()
    )
    path = table_path(str(tmp_path), "t")
    want = sorted(
        duckdb.sql(
            f"SELECT a.k, a.v AS va, b.v AS vb FROM read_parquet('{path}') a "
            f"JOIN read_parquet('{path}') b ON a.k = b.k"
        ).fetchall()
    )
    assert len(want) == 27
    assert got == want


def test_both_events_ts_encodings_normalise_on_cached_load(spark, tmp_path):
    micros = [1_700_000_000_000_001, 1_700_000_123_456_789]
    ts = {
        # TIMESTAMP(NANOS): read as long under nanosAsLong
        "nanos": pa.array([m * 1000 + 999 for m in micros], pa.timestamp("ns")),
        # TIMESTAMP_NTZ micros (isAdjustedToUTC=false)
        "ntz": pa.array(micros, pa.timestamp("us")),
    }
    for enc, col in ts.items():
        d = tmp_path / enc
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": col}),
            str(d / "events.parquet"),
            version="2.6",
            coerce_timestamps=None,
        )
        raw = table_schema(spark, str(d), "events")["ts"].dataType.typeName()
        assert raw == {"nanos": "long", "ntz": "timestamp_ntz"}[enc]
        load_table(spark, str(d), "events")
        df, jobs = _with_jobs(spark, lambda: load_table(spark, str(d), "events"))
        assert jobs == 0
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got = sorted(
            r[0] for r in df.selectExpr("unix_micros(ts)").collect()
        )
        assert got == micros, enc


def test_concurrent_loads_agree(spark, tmp_path):
    _write(tmp_path / "t.parquet", pa.table({"a": [1], "b": ["x"], "c": [2.0]}))
    schemas, errors = [], []

    def load():
        try:
            schemas.append(load_table(spark, str(tmp_path), "t").schema)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=load) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(schemas) == 8 and all(s == schemas[0] for s in schemas)
    assert hio._SCHEMAS[table_path(str(tmp_path), "t")][1] == schemas[0]


def test_directory_bypasses_the_map(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", _kv(3))
    _write(d / "part-1.parquet", _kv(5))
    path = table_path(str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t").count() == 8
    df, jobs = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert path not in hio._SCHEMAS
    assert jobs >= 1, "a directory is inferred on every read"
    assert df.count() == 8
