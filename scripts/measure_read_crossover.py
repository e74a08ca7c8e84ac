#!/usr/bin/env python
"""Time ``statefold.read_state`` on its two paths at several state sizes.

Per size, builds a monoid (sum/min/max) and a latest-wins layout the
way the ``keyed_state_fold`` benchmark workload does: seven fold
batches into 16 buckets, keys drawn from a space four times a batch.
Then it materialises one read of both layouts with a ``noop`` write on
each path: the driver read, and the Spark scan and merge (forced by
setting ``_DRIVER_READ_BYTES`` to 0). "Cold" is the first read of a
layout just written, in a warm JVM (each path reads its own copy of
the files); "warm" is the median of the next five reads, the paths
interleaved. Prints one JSON line per size: the segment bytes on disk,
in all and per layout, and each path's cold and warm ms. ``_DRIVER_READ_BYTES`` is set from
where the driver read stops winning.

Each size's line also gives the bytes the driver read decodes each
layout to in Arrow (``decoded_bytes``), the figure
``_DRIVER_DECODED_BYTES`` is set from, and one more line gives the same
ratio for a latest-wins layout whose payload is a repeated string (the
shape of the CDC upsert stores), which compresses far better.

With ``--compact``, it times the other driver/Spark choice, the fold
call that compacts: per size, 7 batches of ``batch_rows`` rows are
folded into each layout, the state is copied once per path and
repetition, and on each copy an 8th batch of ``batch_rows`` rows (not
timed) and a 20k-row batch that compacts all 16 buckets (timed) are
folded, the paths interleaved; ``_DRIVER_COMPACT_BYTES`` is forced to 0
for the Spark compaction. Prints, per size and layout, the bytes the
compaction reads and each path's median ms over the repetitions.
``_DRIVER_COMPACT_BYTES`` is set from where the driver compaction stops
winning.

It also prints, per writer (the driver append and Spark's write), the
bytes of the segments one 20k-row benchmark batch adds to each layout.

Usage (from the repository root; one Spark session, about 2 GB):
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=2g \\
        python scripts/measure_read_crossover.py [--compact] [batch_rows ...]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, ".")
sys.path.insert(0, "perfbench")

import datagen  # noqa: E402

from hailstorm_spark.session import build_spark  # noqa: E402
from hailstorm_spark.streaming import statefold  # noqa: E402

SEGMENTS = 7
BUCKETS = 16
WARM = 5
COMPACT_REPS = 3
COMPACT_BATCH = 20_000


def _folds(root: str):
    return (
        statefold.bucketed_monoid_fold(
            os.path.join(root, "monoid"), key="key",
            cols={"s": "sum", "mn": "min", "mx": "max"}, n_buckets=BUCKETS, epoch="m",
        ),
        statefold.bucketed_latest_fold(
            os.path.join(root, "latest"), key="key", order_cols=("ts", "uid"),
            n_buckets=BUCKETS,
        ),
    )


def _fold(spark, folds, table: pa.Table, path: str, batch_id: int) -> None:
    from pyspark.sql import functions as F

    pq.write_table(table, path)
    df = spark.read.parquet(path)
    monoid, latest = folds
    monoid(df.select("key", *(F.col("v").alias(c) for c in ("s", "mn", "mx"))), batch_id)
    latest(df.select("key", "ts", "uid", "payload"), batch_id)


def _batch(rng, rows: int, batch_id: int) -> pa.Table:
    return pa.table({
        "key": pa.array(rng.integers(0, 4 * rows, rows), pa.int64()),
        "v": pa.array(rng.integers(-1_000_000, 1_000_000, rows), pa.int64()),
        "ts": pa.array(batch_id * 1_000 + rng.integers(0, 1_000, rows), pa.int64()),
        "uid": pa.array(batch_id * rows + np.arange(rows), pa.int64()),
        "payload": pa.array(rng.integers(0, 1 << 40, rows), pa.int64()),
    })


def _read_ms(spark, root: str, bound: int) -> float:
    saved = statefold._DRIVER_READ_BYTES
    statefold._DRIVER_READ_BYTES = bound
    try:
        t0 = time.perf_counter()
        for name in ("monoid", "latest"):
            statefold.read_state(spark, os.path.join(root, name)).write.format(
                "noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e3
    finally:
        statefold._DRIVER_READ_BYTES = saved


def measure(spark, work: str, rows: int) -> dict:
    rng = np.random.default_rng(rows)
    root = os.path.join(work, f"state-{rows}")
    folds = _folds(root)
    for i in range(SEGMENTS):
        _fold(spark, folds, _batch(rng, rows, i), os.path.join(work, f"in-{rows}-{i}.parquet"), i)
    disk = {n: _disk_bytes_of(root, n) for n in ("monoid", "latest")}
    copies = {"driver": root + "-driver", "spark": root + "-spark"}
    for c in copies.values():
        shutil.copytree(root, c)
    bounds = {"driver": 1 << 62, "spark": 0}
    cold = {p: _read_ms(spark, copies[p], bounds[p]) for p in ("driver", "spark")}
    warm = {"driver": [], "spark": []}
    for _ in range(WARM):
        for p in ("driver", "spark"):
            warm[p].append(_read_ms(spark, root, bounds[p]))
    decoded = {n: _decoded_bytes_of(root, n) for n in disk}
    for d in (root, *copies.values()):
        shutil.rmtree(d)
    return {
        "batch_rows": rows,
        "disk_bytes": sum(disk.values()),
        **{f"{n}_bytes": b for n, b in disk.items()},
        **{f"{n}_decoded_bytes": b for n, b in decoded.items()},
        **{f"{p}_cold_ms": round(cold[p]) for p in cold},
        **{f"{p}_warm_ms": round(statistics.median(warm[p])) for p in warm},
    }


def _fold_ms(spark, folds, table: pa.Table, path: str, batch_id: int) -> dict:
    """``_fold``, timed per layout."""
    from pyspark.sql import functions as F

    pq.write_table(table, path)
    df = spark.read.parquet(path)
    monoid, latest = folds
    out = {}
    for name, fold, cols in (
        ("monoid", monoid, ("key", *(F.col("v").alias(c) for c in ("s", "mn", "mx")))),
        ("latest", latest, ("key", "ts", "uid", "payload")),
    ):
        t0 = time.perf_counter()
        fold(df.select(*cols), batch_id)
        out[name] = (time.perf_counter() - t0) * 1e3
    return out


def measure_compaction(spark, work: str, rows: int) -> dict:
    """The fold call that compacts every bucket of each layout, on the
    driver and on Spark, over 8 segments of ``rows``-row batches."""
    rng = np.random.default_rng(rows)
    root = os.path.join(work, f"compact-{rows}")
    folds = _folds(root)
    for i in range(SEGMENTS):
        _fold(spark, folds, _batch(rng, rows, i), os.path.join(work, f"c-{rows}-{i}.parquet"), i)
    eighth = _batch(rng, rows, SEGMENTS)
    last = _batch(rng, COMPACT_BATCH, SEGMENTS + 1)
    bounds = {"driver": 1 << 62, "spark": 0}
    ms = {p: {"monoid": [], "latest": []} for p in bounds}
    read = {}
    for rep in range(COMPACT_REPS):
        for p, bound in bounds.items():
            copy = f"{root}-{p}-{rep}"
            shutil.copytree(root, copy)
            folds = _folds(copy)
            _fold(spark, folds, eighth, os.path.join(work, f"c8-{rows}.parquet"), SEGMENTS)
            read = {n: _disk_bytes_of(copy, n) for n in ("monoid", "latest")}
            saved = statefold._DRIVER_COMPACT_BYTES
            statefold._DRIVER_COMPACT_BYTES = bound
            try:
                got = _fold_ms(
                    spark, folds, last, os.path.join(work, f"c9-{rows}.parquet"), SEGMENTS + 1
                )
            finally:
                statefold._DRIVER_COMPACT_BYTES = saved
            for n in ("monoid", "latest"):
                counts = statefold._bucket_file_counts(os.path.join(copy, n))
                assert max(counts.values()) == 1, (p, n, counts)
                ms[p][n].append(got[n])
            shutil.rmtree(copy)
    shutil.rmtree(root)
    return {
        "batch_rows": rows,
        **{f"{n}_compacted_bytes": b for n, b in read.items()},
        **{
            f"{p}_{n}_ms": round(statistics.median(v))
            for p, per in ms.items()
            for n, v in per.items()
        },
    }


def string_payload_ratio(spark, work: str) -> dict:
    """Disk and decoded bytes of a latest-wins layout, 7 batches of 20k
    rows, whose payload is one of eight 40-character strings."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    words = [f"{w:<40}" for w in ("view", "click", "cart", "purchase", "refund",
                                   "login", "logout", "search")]
    root = os.path.join(work, "strings")
    fold = statefold.bucketed_latest_fold(
        os.path.join(root, "latest"), key="key", order_cols=("ts", "uid"), n_buckets=BUCKETS
    )
    for i in range(SEGMENTS):
        t = _batch(rng, 20_000, i).set_column(
            4, "payload", pa.array([words[j] for j in rng.integers(0, 8, 20_000)])
        )
        path = os.path.join(work, f"s-{i}.parquet")
        pq.write_table(t, path)
        fold(spark.read.parquet(path).select("key", "ts", "uid", F.col("payload")), i)
    out = {"string_payload": {"disk_bytes": _disk_bytes_of(root, "latest"),
                              "decoded_bytes": _decoded_bytes_of(root, "latest")}}
    shutil.rmtree(root)
    return out


def writer_bytes(spark, work: str) -> dict:
    """Bytes of the segments one 20k-row benchmark batch adds, per
    writer and layout (the same batch on a layout holding one earlier
    batch)."""
    rng = np.random.default_rng(1)
    cdf = datagen.zipf_cdf(1_000_000, 1.1)
    batches = [datagen.fold_batch(rng, cdf, 20_000, i) for i in range(2)]
    out = {}
    for writer, bound in (("driver", statefold._DRIVER_APPEND_BYTES), ("spark", 0)):
        saved = statefold._DRIVER_APPEND_BYTES
        statefold._DRIVER_APPEND_BYTES = bound
        try:
            root = os.path.join(work, f"writer-{writer}")
            folds = _folds(root)
            for i, t in enumerate(batches):
                before = {n: _disk_bytes_of(root, n) for n in ("monoid", "latest")}
                _fold(spark, folds, t, os.path.join(work, f"w-{writer}-{i}.parquet"), i)
            out[writer] = {n: _disk_bytes_of(root, n) - before[n] for n in before}
        finally:
            statefold._DRIVER_APPEND_BYTES = saved
    return out


def _disk_bytes_of(root: str, name: str) -> int:
    return sum(
        size
        for files in statefold._segment_files(os.path.join(root, name)).values()
        for _path, size in files
    )


def _decoded_bytes_of(root: str, name: str) -> int:
    """Arrow bytes of the layout's segments as the driver read decodes
    them, before the merge."""
    d = os.path.join(root, name)
    files = [f for fs in statefold._segment_files(d).values() for f in fs]
    saved = statefold._DRIVER_DECODED_BYTES
    statefold._DRIVER_DECODED_BYTES = 1 << 62
    try:
        fields = statefold._driver_fields(statefold._read_sidecar(d))
        return statefold._read_segments(files, fields).nbytes
    finally:
        statefold._DRIVER_DECODED_BYTES = saved


def main() -> None:
    args = sys.argv[1:]
    compact = "--compact" in args
    sizes = [int(a) for a in args if a != "--compact"] or (
        [2_500, 10_000, 40_000, 80_000, 160_000] if compact
        else [2_500, 10_000, 40_000, 160_000, 320_000]
    )
    spark = build_spark(app_name="read-crossover", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="read-crossover-")
    try:
        if compact:
            measure_compaction(spark, work, 2_000)  # warm-up
            for rows in sizes:
                print(json.dumps(measure_compaction(spark, work, rows)), flush=True)
            return
        print(json.dumps({"writer_step_bytes": writer_bytes(spark, work)}), flush=True)
        print(json.dumps(string_payload_ratio(spark, work)), flush=True)
        measure(spark, work, 2_000)  # warm-up: JIT and the Python imports
        for rows in sizes:
            print(json.dumps(measure(spark, work, rows)), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
