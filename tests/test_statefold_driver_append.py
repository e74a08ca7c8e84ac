"""The driver append of small monoid and latest-wins fold batches.

A fold whose partial Spark estimates under ``_DRIVER_APPEND_BYTES``
collects its per-(key, bucket) partial once through Arrow and writes
one parquet segment per touched bucket from the driver; every other
batch keeps Spark's write. The claims these pin:
- both writers leave the same state and the same layout: one new data
  file per touched bucket per batch, untouched buckets byte-identical,
  compaction at the segment threshold fed the collected rows;
- every driver-written data file has the ``.crc`` Hadoop's local
  filesystem writes, byte for byte, and a corrupted file fails the read
  with a ``ChecksumException``;
- a crash after some of a batch's bucket files are written loses
  nothing and adds nothing twice, whether the replay comes through a
  fresh closure or as a retry of the same one: a monoid replay goes
  through the ``_b`` fence, a latest-wins replay through its
  idempotent merge;
- struct keys and the atomic types Spark reads back from a pyarrow
  file as they were round-trip, and other types (intervals) take the
  Spark write;
- a warm driver-path fold call is one job of two stages.

Batches are parquet files read back (their plans carry a size
estimate); a ``createDataFrame`` batch reports none and always takes
the Spark write.
"""

from __future__ import annotations

import datetime
import decimal
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming import statefold
from hailstorm_spark.streaming.statefold import (
    bucketed_latest_fold,
    bucketed_monoid_fold,
    key_buckets,
    read_state,
)

B = 8
MONOID = {"s": "sum", "mn": "min", "mx": "max"}

#: three batches of (key, v, ts, uid): overlapping keys, and batch 2
#: carries a stale version (ts below the standing one) of key 3
BATCHES = [
    [(k, k * 10 - 50, 100, k) for k in range(40)],
    [(k, -k, 200, 100 + k) for k in range(20, 60, 3)],
    [(3, 7, 50, 300), (61, 1, 300, 301), (62, 2, 300, 302)],
]


class _Crash(RuntimeError):
    pass


def _batch(spark, tmp_path, i: int):
    """Batch ``i`` as a parquet file read back by Spark."""
    rows = BATCHES[i]
    p = str(tmp_path / "in" / f"batch-{i}.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({n: pa.array(c, pa.int64()) for n, c in zip(("key", "v", "ts", "uid"), cols)}),
        p,
    )
    return spark.read.parquet(p)


def _monoid_in(df):
    return df.select("key", *(F.col("v").alias(c) for c in MONOID))


def _latest_in(df):
    return df.select("key", "ts", "uid", F.concat(F.lit("p"), "v").alias("payload"))


def _files(state_dir: str) -> dict[str, tuple[int, int, bytes]]:
    """Data file (relative path) → (size, mtime, contents)."""
    out = {}
    for root, _dirs, names in os.walk(state_dir):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, state_dir)] = (
                    os.path.getsize(p), os.stat(p).st_mtime_ns, f.read()
                )
    return out


def _writer(path: str) -> str:
    """Which library wrote a parquet file: pyarrow (the driver append)
    or parquet-mr (Spark)."""
    return "driver" if "parquet-cpp" in pq.ParquetFile(path).metadata.created_by else "spark"


def _truth(batch_ids):
    rows = [r for i in batch_ids for r in BATCHES[i]]
    monoid = {}
    for k, v, _ts, _uid in rows:
        s, mn, mx = monoid.get(k, (0, v, v))
        monoid[k] = (s + v, min(mn, v), max(mx, v))
    latest = {}
    for k, v, ts, uid in sorted(rows, key=lambda r: (r[2], r[3])):
        latest[k] = (ts, uid, f"p{v}")
    return monoid, latest


def _state(spark, monoid_dir, latest_dir):
    return (
        {r["key"]: (r["s"], r["mn"], r["mx"]) for r in read_state(spark, monoid_dir).collect()},
        {r["key"]: (r["ts"], r["uid"], r["payload"]) for r in read_state(spark, latest_dir).collect()},
    )


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_both_writers_leave_the_same_state_and_layout(spark, tmp_path, monkeypatch, path):
    if path == "spark":
        monkeypatch.setattr(statefold, "_DRIVER_APPEND_BYTES", 0)
    # a low threshold so the third batch compacts every bucket it touches
    monkeypatch.setattr(statefold, "_COMPACT_SEGMENTS", 2)
    md, ld = str(tmp_path / "monoid"), str(tmp_path / "latest")
    monoid = bucketed_monoid_fold(md, key="key", cols=MONOID, n_buckets=B, epoch="e")
    latest = bucketed_latest_fold(ld, key="key", order_cols=("ts", "uid"), n_buckets=B)
    for i in range(len(BATCHES)):
        df = _batch(spark, tmp_path, i)
        touched = {f"bucket={b}" for b in key_buckets([r[0] for r in BATCHES[i]], B)}
        for fold, d, shape in ((monoid, md, _monoid_in), (latest, ld, _latest_in)):
            before = _files(d)
            fold(shape(df), i)
            after = _files(d)
            for p, meta in before.items():
                if p.split("/")[0] not in touched:
                    assert after.get(p) == meta, f"untouched bucket file changed: {p}"
            new = Counter(os.path.dirname(p) for p in after.keys() - before.keys())
            assert new == dict.fromkeys(touched, 1), (i, new)
            if i < 2:  # appends; batch 2's compactions are Spark writes
                assert {_writer(os.path.join(d, p)) for p in after.keys() - before.keys()} == {path}
    assert _state(spark, md, ld) == _truth(range(len(BATCHES)))


def test_driver_files_carry_hadoop_checksums(spark, tmp_path):
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(d, key="key", cols=MONOID, n_buckets=B)
    fold(_monoid_in(_batch(spark, tmp_path, 0)), 0)
    data = list(_files(d))
    assert data and all(_writer(os.path.join(d, p)) == "driver" for p in data)
    # the .crc Hadoop's own checksummed filesystem writes for the same bytes
    jvm = spark._jvm
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    ref = tmp_path / "ref" / "seg"
    for p in data:
        full = os.path.join(d, p)
        crc = os.path.join(os.path.dirname(full), f".{os.path.basename(full)}.crc")
        assert os.path.exists(crc), p
        with open(full, "rb") as f:
            body = f.read()
        out = stock.create(jvm.org.apache.hadoop.fs.Path(str(ref)), True)
        out.write(bytearray(body))
        out.close()
        with open(crc, "rb") as f:
            assert f.read() == (ref.parent / ".seg.crc").read_bytes(), p
    assert read_state(spark, d).count() == len({r[0] for r in BATCHES[0]})
    victim = os.path.join(d, data[0])
    with open(victim, "r+b") as f:
        f.seek(os.path.getsize(victim) // 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        read_state(spark, d).collect()


def _crash_after(monkeypatch, k: int) -> list[int]:
    """Make the driver append raise before its (k+1)-th data file;
    returns the data-file counter (reset it to arm the crash again)."""
    real = statefold._publish
    written = [0]

    def publish(path, body, mode):
        if not os.path.basename(path).startswith("."):
            if written[0] == k:
                raise _Crash(f"crash after {k} bucket files")
            written[0] += 1
        real(path, body, mode)

    monkeypatch.setattr(statefold, "_publish", publish)
    return written


@pytest.mark.parametrize("replay", ["fresh", "retry"])
@pytest.mark.parametrize("k", [1, 3])
def test_crash_mid_append_then_replay_is_exactly_once(spark, tmp_path, monkeypatch, k, replay):
    md, ld = str(tmp_path / "monoid"), str(tmp_path / "latest")

    def folds():  # a fresh closure per process, as after a restart
        return (
            bucketed_monoid_fold(md, key="key", cols=MONOID, n_buckets=B, epoch="e"),
            bucketed_latest_fold(ld, key="key", order_cols=("ts", "uid"), n_buckets=B),
        )

    monoid, latest = folds()
    monoid(_monoid_in(_batch(spark, tmp_path, 0)), 0)
    latest(_latest_in(_batch(spark, tmp_path, 0)), 0)
    df1 = _batch(spark, tmp_path, 1)
    assert len(key_buckets([r[0] for r in BATCHES[1]], B)) > k
    with monkeypatch.context() as m:
        written = _crash_after(m, k)
        with pytest.raises(_Crash):
            monoid(_monoid_in(df1), 1)
        written[0] = 0
        with pytest.raises(_Crash):
            latest(_latest_in(df1), 1)
    assert _state(spark, md, ld) != _truth([0, 1])  # the crash left batch 1 half applied
    if replay == "fresh":  # a restarted process; "retry" re-delivers to the same closures
        monoid, latest = folds()
    for i in (1, 2):
        df = _batch(spark, tmp_path, i)
        monoid(_monoid_in(df), i)
        latest(_latest_in(df), i)
    assert _state(spark, md, ld) == _truth([0, 1, 2])


def test_types_round_trip_and_others_take_the_spark_write(spark, tmp_path):
    ts = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    day = datetime.date(2024, 3, 1)
    rows = [
        ((f"a{i}", i, day + datetime.timedelta(days=i)), ts + datetime.timedelta(hours=i),
         decimal.Decimal(f"{i}.25"), [i, i + 1], {"n": i}, i, i, i, i / 4, i / 8,
         i % 2 == 0, bytes([i]), i)
        for i in range(12)
    ]
    schema = (
        "k struct<name: string, n: long, day: date>, ts timestamp, amount decimal(12,2), "
        "xs array<long>, m map<string, long>, tiny byte, short_ short, small int, "
        "f float, x double, flag boolean, raw binary, uid long"
    )
    src = str(tmp_path / "typed.parquet")
    spark.createDataFrame(rows, schema).write.parquet(src)
    d = str(tmp_path / "latest")
    fold = bucketed_latest_fold(d, key="k", order_cols=("ts", "uid"), n_buckets=B)
    fold(spark.read.parquet(src), 0)
    assert {_writer(os.path.join(d, p)) for p in _files(d)} == {"driver"}
    got = read_state(spark, d)
    assert got.schema.simpleString() == spark.read.parquet(src).schema.simpleString()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(src).collect())
    )

    # a date key, as the daily monoid folds have, takes the driver write
    d2 = str(tmp_path / "monoid")
    fold2 = bucketed_monoid_fold(d2, key="day", cols={"c": "sum"}, n_buckets=B)
    fold2(spark.read.parquet(src).select(F.col("k.day").alias("day"), F.lit(1).alias("c")), 0)
    assert {_writer(os.path.join(d2, p)) for p in _files(d2)} == {"driver"}
    assert read_state(spark, d2).schema["day"].dataType.simpleString() == "date"
    assert read_state(spark, d2).count() == len(rows)

    # an interval comes back from a pyarrow file as a long: the Spark write
    d3 = str(tmp_path / "interval")
    fold3 = bucketed_latest_fold(d3, key="uid", order_cols=("uid",), n_buckets=B)
    fold3(spark.read.parquet(src).select("uid", F.make_dt_interval(secs=F.col("uid")).alias("gap")), 0)
    assert {_writer(os.path.join(d3, p)) for p in _files(d3)} == {"spark"}
    assert read_state(spark, d3).schema["gap"].dataType.simpleString() == "interval day to second"
    assert read_state(spark, d3).count() == len(rows)


def test_warm_driver_fold_call_is_one_job_of_two_stages(spark, tmp_path):
    sc = spark.sparkContext
    d = str(tmp_path / "monoid")
    fold = bucketed_monoid_fold(d, key="key", cols=MONOID, n_buckets=B, epoch="e")
    fold(_monoid_in(_batch(spark, tmp_path, 0)), 0)
    df = _monoid_in(_batch(spark, tmp_path, 1))
    sc.setJobGroup("driver-append-warm", "warm fold")
    try:
        fold(df, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("driver-append-warm")
    assert len(jobs) == 1
    assert len(st.getJobInfo(jobs[0]).stageIds) == 2
