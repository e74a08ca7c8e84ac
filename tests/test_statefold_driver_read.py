"""The driver read of small log-structured keyed-state layouts.

``read_state`` merges a monoid or latest-wins log whose segment files
total under ``_DRIVER_READ_BYTES`` on the driver: each file's bytes are
checked against its ``.crc``, parsed by pyarrow through the sidecar's
union schema and merged per key in Arrow. Every other layout keeps the
Spark scan and merge. The claims these pin, each against the Spark
read of the same files (the bound patched to 0):
- the two reads return the same columns, types and rows for monoid
  sum/min/max with NULL contributions, a column added mid-stream,
  compacted and uncompacted buckets side by side, latest-wins with NULL
  order values and a replayed duplicate segment, a date key, and a
  payload of every type the driver append writes;
- a struct key and a ``bit_or`` state take the Spark read;
- a sum past the range of a long behaves as the Spark read does on the
  same session;
- a materialised driver read is one Spark job and opens no file
  through Spark;
- the read gives way to Spark's past its bound on segment bytes, and
  past ``_DRIVER_DECODED_BYTES`` of decoded Arrow data;
- a driver-appended batch compacts its buckets on the driver under
  ``_DRIVER_COMPACT_BYTES``, to the same state and layout as the Spark
  compaction, and keeps the monoid fence;
- a driver compaction that fails while writing its files leaves the
  bucket's old segments in place.

Batches come both as parquet files read back (the driver append writes
their segments) and as ``createDataFrame`` frames (Spark writes them),
so both writers' files are read.
"""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming import statefold
from hailstorm_spark.streaming.statefold import (
    bucketed_latest_fold,
    bucketed_monoid_fold,
    read_state,
)

B = 4


def _parquet(spark, tmp_path, name: str, table: pa.Table):
    """``table`` as a parquet file read back by Spark (a sized plan, so a
    fold appends it from the driver)."""
    p = str(tmp_path / "in" / f"{name}.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(table, p)
    return spark.read.parquet(p)


def _both(spark, d: str, monkeypatch):
    """(driver read, Spark read) of the layout at ``d``."""
    driver = read_state(spark, d)
    with monkeypatch.context() as m:
        m.setattr(statefold, "_DRIVER_READ_BYTES", 0)
        scan = read_state(spark, d)
    assert driver.inputFiles() == [], "the driver read should have been taken"
    assert scan.inputFiles(), "the patched bound should force the Spark read"
    return driver, scan


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_same(spark, d: str, monkeypatch):
    driver, scan = _both(spark, d, monkeypatch)
    assert driver.schema == scan.schema
    got = _rows(driver)
    assert got == _rows(scan)
    return got


def test_monoid_with_null_contributions_and_an_added_column(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(
        d, key="key", cols={"s": "sum", "mn": "min", "mx": "max"}, n_buckets=B, epoch="e"
    )
    v = pa.array([5, None, -3, 7, None, 2], pa.int64())
    keys = pa.array([1, 1, 2, 3, 4, 5], pa.int64())
    fold(_parquet(spark, tmp_path, "m0", pa.table({"key": keys, "s": v, "mn": v, "mx": v})), 0)
    schema = "key long, s long, mn long, mx long"
    fold(spark.createDataFrame([(1, 4, 4, 4), (4, None, None, None), (6, -1, None, 9)], schema), 1)
    # a column added mid-stream reads NULL for keys it never reached
    fold2 = bucketed_monoid_fold(
        d, key="key", cols={"s": "sum", "mn": "min", "mx": "max", "n": "sum"},
        n_buckets=B, epoch="e",
    )
    fold2(spark.createDataFrame([(2, 1, 1, 1, 1), (7, 2, 2, 2, None)], schema + ", n long"), 2)
    got = {r[0]: r[1:] for r in _assert_same(spark, d, monkeypatch)}
    assert got[1] == (9, 4, 5, None)
    assert got[2] == (-2, -3, 1, 1)
    assert got[4] == (None, None, None, None)


def test_compacted_and_uncompacted_buckets(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(statefold, "_COMPACT_SEGMENTS", 2)
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(d, key="key", cols={"s": "sum"}, n_buckets=B, epoch="e")
    every = list(range(40))
    hot = [k for k in every if statefold.spark_bucket(k, B) == 0]
    for i, keys in enumerate((every, every, hot)):
        t = pa.table({"key": pa.array(keys, pa.int64()), "s": pa.array(keys, pa.int64())})
        fold(_parquet(spark, tmp_path, f"c{i}", t), i)
    counts = statefold._bucket_file_counts(d)
    assert counts[0] == 1 and max(counts.values()) == 2, counts
    got = dict(_assert_same(spark, d, monkeypatch))
    assert got == {k: k * (3 if k in hot else 2) for k in every}


def test_latest_wins_with_null_orders_and_a_replayed_segment(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "latest")

    def fold():
        return bucketed_latest_fold(d, key="key", order_cols=("ts", "uid"), n_buckets=B)

    schema = "key long, ts long, uid long, payload string"
    b0 = [(1, None, 1, "a0"), (2, 10, 2, "b0"), (3, 10, None, "c0"), (4, None, None, "d0"),
          (5, 1, 8, "e0")]
    b1 = [(1, 5, 3, "a1"), (2, None, 4, "b1"), (3, 10, 5, "c1"), (4, None, 6, "d1"),
          (5, 7, 9, "e1"), (None, 1, 7, "n1")]
    fold()(spark.createDataFrame(b0, schema), 0)
    first = fold()
    t1 = pa.table({n: pa.array(c) for n, c in zip(("key", "ts", "uid", "payload"), zip(*b1))})
    first(_parquet(spark, tmp_path, "l1", t1), 1)
    fold()(_parquet(spark, tmp_path, "l1", t1), 1)  # a replay: a duplicate segment
    got = _assert_same(spark, d, monkeypatch)
    assert got == sorted(
        [(1, 5, 3, "a1"), (2, 10, 2, "b0"), (3, 10, 5, "c1"), (4, None, 6, "d1"),
         (5, 7, 9, "e1"), (None, 1, 7, "n1")],
        key=repr,
    )
    # a column added mid-stream reads NULL from the older segments
    fold()(spark.createDataFrame([(9, 1, 9, "z", "DE")], schema + ", country string"), 2)
    driver, _ = _both(spark, d, monkeypatch)
    assert driver.columns == ["key", "ts", "uid", "payload", "country"]
    got = {r[0]: r[-1] for r in _assert_same(spark, d, monkeypatch)}
    assert got[9] == "DE" and got[1] is None


def test_date_key_and_typed_payloads(spark, tmp_path, monkeypatch):
    day = datetime.date(2024, 3, 1)
    d = str(tmp_path / "daily")
    fold = bucketed_monoid_fold(d, key="day", cols={"c": "sum", "hi": "max"}, n_buckets=B)
    days = pa.array([day + datetime.timedelta(days=i % 5) for i in range(12)], pa.date32())
    ones = pa.array([1] * 12, pa.int64())
    fold(_parquet(spark, tmp_path, "d0", pa.table({"day": days, "c": ones, "hi": ones})), 0)
    fold(spark.createDataFrame([(day, 1, 7)], "day date, c long, hi long"), 1)
    got = dict((r[0], r[1:]) for r in _assert_same(spark, d, monkeypatch))
    assert got[day] == (4, 7)

    ts = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    rows = [
        (i, ts + datetime.timedelta(hours=i), decimal.Decimal(f"{i}.25"), [i, None],
         {"n": i}, (f"a{i}", day), i / 4, i % 2 == 0, bytes([i]), day, i, i)
        for i in range(10)
    ]
    schema = (
        "k long, ts timestamp, amount decimal(12,2), xs array<long>, m map<string, long>, "
        "st struct<name: string, day: date>, x double, flag boolean, raw binary, d date, "
        "small int, uid long"
    )
    d2 = str(tmp_path / "typed")
    typed = bucketed_latest_fold(d2, key="k", order_cols=("ts", "uid"), n_buckets=B)
    src = str(tmp_path / "typed.parquet")
    spark.createDataFrame(rows[:6], schema).write.parquet(src)
    typed(spark.read.parquet(src), 0)  # driver-written segments
    typed(spark.createDataFrame(rows[4:], schema), 1)  # Spark-written ones
    assert len(_assert_same(spark, d2, monkeypatch)) == len(rows)


def test_struct_keys_and_bit_or_take_the_spark_read(spark, tmp_path):
    d = str(tmp_path / "struct")
    fold = bucketed_monoid_fold(d, key="k", cols={"c": "sum"}, n_buckets=B)
    fold(spark.createDataFrame([((1, "a"), 1), ((2, "b"), 2)], "k struct<n: long, w: string>, c long"), 0)
    assert read_state(spark, d).inputFiles()
    d2 = str(tmp_path / "bits")
    fold2 = bucketed_monoid_fold(d2, key="k", cols={"c": "sum", "bits": "bit_or"}, n_buckets=B)
    fold2(spark.createDataFrame([(1, 1, 4), (2, 1, 8)], "k long, c long, bits long"), 0)
    assert read_state(spark, d2).inputFiles()
    assert sorted(map(tuple, read_state(spark, d2).collect())) == [(1, 1, 4), (2, 1, 8)]


def test_a_sum_past_the_long_range_reads_as_spark_does(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "big")
    fold = bucketed_monoid_fold(d, key="k", cols={"s": "sum"}, n_buckets=B)
    for i in range(3):
        fold(spark.createDataFrame([(1, 1 << 62), (2, i)], "k long, s long"), i)

    def outcome(df):
        try:
            return sorted(map(tuple, df.collect()))
        except Exception as e:  # the session's overflow rule may raise
            return type(e).__name__, "ARITHMETIC_OVERFLOW" in str(e)

    driver = read_state(spark, d)
    with monkeypatch.context() as m:
        m.setattr(statefold, "_DRIVER_READ_BYTES", 0)
        scan = read_state(spark, d)
    assert outcome(driver) == outcome(scan)


def test_a_materialised_driver_read_is_one_job(spark, tmp_path):
    d = str(tmp_path / "latest")
    fold = bucketed_latest_fold(d, key="key", order_cols=("ts",), n_buckets=B)
    t = pa.table({"key": pa.array(range(50), pa.int64()), "ts": pa.array(range(50), pa.int64())})
    fold(_parquet(spark, tmp_path, "j0", t), 0)
    sc = spark.sparkContext
    sc.setJobGroup("driver-read", "materialised driver read")
    try:
        df = read_state(spark, d)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.inputFiles() == []
    assert len(sc.statusTracker().getJobIdsForGroup("driver-read")) == 1


@pytest.mark.parametrize("size", [0, 1])
def test_the_bound_is_on_segment_bytes(spark, tmp_path, monkeypatch, size):
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(d, key="k", cols={"s": "sum"}, n_buckets=B)
    fold(spark.createDataFrame([(1, 1)], "k long, s long"), 0)
    total = sum(n for fs in statefold._segment_files(d).values() for _p, n in fs)
    monkeypatch.setattr(statefold, "_DRIVER_READ_BYTES", total + size)
    assert (read_state(spark, d).inputFiles() == []) == (size == 1)
    assert read_state(spark, d).select(F.sum("s")).first()[0] == 1


def _data_files(d: str) -> dict[str, tuple[int, int]]:
    return {
        os.path.join(root, n): (os.path.getsize(os.path.join(root, n)),
                                os.stat(os.path.join(root, n)).st_mtime_ns)
        for root, _dirs, names in os.walk(d)
        for n in names
        if not n.startswith(("_", "."))
    }


def test_the_read_gives_way_past_the_decoded_cap(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "latest")
    fold = bucketed_latest_fold(d, key="key", order_cols=("ts",), n_buckets=B)
    t = pa.table({"key": pa.array(range(400), pa.int64()), "ts": pa.array(range(400), pa.int64()),
                  "payload": pa.array(["x" * 500] * 400)})
    fold(_parquet(spark, tmp_path, "p0", t), 0)
    files = [f for fs in statefold._segment_files(d).values() for f in fs]
    disk = sum(n for _p, n in files)
    decoded = statefold._read_segments(files, statefold._driver_fields(statefold._read_sidecar(d)))
    # repeated strings: far more bytes in Arrow than on disk
    assert decoded.nbytes > 10 * disk
    monkeypatch.setattr(statefold, "_DRIVER_DECODED_BYTES", decoded.nbytes - 1)
    assert read_state(spark, d).inputFiles()
    monkeypatch.setattr(statefold, "_DRIVER_DECODED_BYTES", decoded.nbytes)
    assert read_state(spark, d).inputFiles() == []


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_compaction_on_both_paths(spark, tmp_path, monkeypatch, path):
    if path == "spark":
        monkeypatch.setattr(statefold, "_DRIVER_COMPACT_BYTES", 0)
    monkeypatch.setattr(statefold, "_COMPACT_SEGMENTS", 3)
    md, ld = str(tmp_path / "monoid"), str(tmp_path / "latest")

    def folds():
        return (
            bucketed_monoid_fold(md, key="key", cols={"s": "sum", "mx": "max"}, n_buckets=2,
                                 epoch="e"),
            bucketed_latest_fold(ld, key="key", order_cols=("ts",), n_buckets=2),
        )

    monoid, latest = folds()
    inputs = []
    for i in range(5):
        keys = pa.array(range(i, i + 10), pa.int64())
        t = pa.table({"key": keys, "s": keys, "mx": pa.array([i] * 10, pa.int64()),
                      "ts": pa.array([i] * 10, pa.int64())})
        inputs.append(_parquet(spark, tmp_path, f"k{i}", t))
        monoid(inputs[i].select("key", "s", "mx"), i)
        latest(inputs[i].select("key", "ts"), i)
    for d in (md, ld):
        counts = statefold._bucket_file_counts(d)
        assert max(counts.values()) < 3, counts
        writers = {
            "driver" if "parquet-cpp" in pq.ParquetFile(p).metadata.created_by else "spark"
            for p in _data_files(d)
        }
        assert path in writers
    keys = range(14)
    want_m = {k: (sum(k for i in range(5) if i <= k < i + 10),
                  max(i for i in range(5) if i <= k < i + 10)) for k in keys}
    assert {r[0]: tuple(r[1:]) for r in read_state(spark, md).collect()} == want_m
    assert {r[0]: r[1] for r in read_state(spark, ld).collect()} == {k: want_m[k][1] for k in keys}
    # the fence survived compaction: a replay after a restart is a no-op
    snap = _data_files(md)
    for i in range(5):
        monoid, _latest = folds()
        monoid(inputs[i].select("key", "s", "mx"), i)
    assert _data_files(md) == snap


def test_a_failed_driver_compaction_keeps_the_old_segments(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(statefold, "_COMPACT_SEGMENTS", 2)
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(d, key="key", cols={"s": "sum"}, n_buckets=1, epoch="e")
    batches = []
    for i in range(3):
        keys = pa.array(range(i, i + 5), pa.int64())
        batches.append(_parquet(spark, tmp_path, f"f{i}", pa.table({"key": keys, "s": keys})))
    for i in range(2):
        fold(batches[i], i)
    before = _data_files(d)
    want = _rows(read_state(spark, d))
    real = statefold._stage

    def stage(path, body, mode):
        if not os.path.basename(path).startswith("."):
            raise OSError("disk full")
        return real(path, body, mode)

    monkeypatch.setattr(statefold, "_stage", stage)
    with pytest.raises(OSError, match="disk full"):
        fold(batches[2], 2)
    # the compacted segment never landed; the standing ones were kept
    assert _data_files(d) == before
    assert _rows(read_state(spark, d)) == want
    monkeypatch.setattr(statefold, "_stage", real)
    fold(batches[2], 2)
    assert len(_data_files(d)) == 1
    assert dict(_rows(read_state(spark, d))) == {
        k: k * sum(1 for i in range(3) if i <= k < i + 5) for k in range(7)
    }
