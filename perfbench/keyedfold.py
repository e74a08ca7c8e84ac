"""Workload ``keyed_state_fold``: the engine's exactly-once keyed-state
layer, driven directly (no Spark state store, no query registry).

A closed loop with one client: per generated batch, one
``bucketed_monoid_fold`` (sum/min/max of ``v``) and one
``bucketed_latest_fold`` (latest ``payload`` by ``(ts, uid)``); every
``READ_EVERY`` batches a ``read_state`` of both tables, materialised.
Keys are Zipf over a ``N_KEYS`` key space. After the timed loop an
already committed batch id is re-applied through fresh fold closures
(the position of a restarted process), which must change nothing.
Finally both tables are compared with a pure-Python fold of the same
batches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen
from common import Run, quantile

N_KEYS = 1_000_000
ZIPF_S = 1.1
BATCH_ROWS = 20_000
#: batches folded before timing: the first fold of a closure takes the
#: fenced path and fills the JVM's code caches (about 10 s); later steps
#: still get faster, by about a fifth over the timed window
PRE = 1
#: the timed window lasts ``--seconds`` and at least ``MIN_STEPS`` fold
#: steps (2-3 s each), so it ends before the eighth batch, whose fold
#: compacts each bucket's eight segments (the layer's default
#: threshold): timing through it would add four fold steps to every run
MIN_STEPS = 4
MAX_STEPS = 16
READ_EVERY = 2
REPLAY_BATCH = 1
MONOID = {"s": "sum", "mn": "min", "mx": "max"}


class Folds:
    """The two fold closures over one pair of state directories."""

    def __init__(self, root: str, touched_log: list | None = None):
        from hailstorm_spark.streaming.statefold import bucketed_latest_fold, bucketed_monoid_fold

        self.monoid_dir = os.path.join(root, "monoid")
        self.latest_dir = os.path.join(root, "latest")
        self.monoid = bucketed_monoid_fold(self.monoid_dir, key="key", cols=MONOID,
                                           touched_log=touched_log, epoch="perfbench")
        self.latest = bucketed_latest_fold(self.latest_dir, key="key", order_cols=("ts", "uid"),
                                           touched_log=touched_log)


def _inputs(spark, path: str):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    m = df.select("key", *(F.col("v").alias(c) for c in MONOID))
    return m, df.select("key", "ts", "uid", "payload")


def prepare(run: Run, inputs: str) -> tuple[list[str], list]:
    """Enough batches for the run, as parquet files and as Arrow tables
    (the latter feed the pure-Python reference fold)."""
    rng = np.random.default_rng(run.seed)
    cdf = datagen.zipf_cdf(N_KEYS, ZIPF_S)
    paths, tables = [], []
    for i in range(PRE + MAX_STEPS):
        t = datagen.fold_batch(rng, cdf, BATCH_ROWS, i)
        p = os.path.join(inputs, f"batch-{i:05d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
        tables.append(t)
    return paths, tables


def setup(spark, run: Run, inputs) -> Folds:
    """Program-side set-up: the fold closures."""
    with run.tracer.span("statefold.setup"):
        return Folds(os.path.join(run.work, "kf", "state"))


def _bucket_files(state_dir: str) -> dict[str, int]:
    """data file path → size, from a directory listing."""
    out = {}
    for dirpath, _, files in os.walk(state_dir):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _segments_max(files: dict[str, int]) -> int:
    """Most data files in one bucket directory."""
    counts: dict[str, int] = {}
    for p in files:
        d = os.path.dirname(p)
        counts[d] = counts.get(d, 0) + 1
    return max(counts.values(), default=0)


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def run_workload(spark, run: Run, inputs, folds: Folds) -> None:
    root = os.path.join(run.work, "kf")
    paths, tables = inputs
    n_max = len(paths)

    for i in range(PRE):
        m, latest = _inputs(spark, paths[i])
        folds.monoid(m, i)
        folds.latest(latest, i)
    run.phase("warm-up batches done")

    traced = run.tracer.enabled
    sc = spark.sparkContext
    fold_lat, read_lat, monoid_ms, latest_ms, jobs, touched, written = [], [], [], [], [], [], []
    seen: dict[str, int] = {}
    seg_max = 0
    n = PRE
    t_start = time.perf_counter()
    while n < n_max and (time.perf_counter() - t_start < run.seconds or n < PRE + MIN_STEPS):
        m, latest = _inputs(spark, paths[n])
        t0 = time.perf_counter()
        with run.tracer.span("statefold.batch", trace=f"batch-{n}"):
            if traced:
                sc.setJobGroup(f"monoid-{n}", "monoid fold")
            with run.tracer.span("statefold.monoid_fold"):
                folds.monoid(m, n)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"latest-{n}", "latest fold")
            with run.tracer.span("statefold.latest_fold"):
                folds.latest(latest, n)
        t2 = time.perf_counter()
        run.attempted += 1  # one fold step; checked with the final state
        fold_lat.append((t2 - t0) * 1e3)
        monoid_ms.append((t1 - t0) * 1e3)
        latest_ms.append((t2 - t1) * 1e3)
        if traced:
            jobs.append((_jobs(spark, f"monoid-{n}") + _jobs(spark, f"latest-{n}")) / 2)
            now = _bucket_files(folds.monoid_dir)
            new = {p: s for p, s in now.items() if p not in seen}
            touched.append(len({os.path.dirname(p) for p in new}))
            seg_max = max(seg_max, _segments_max(now))
            lnow = _bucket_files(folds.latest_dir)
            written.append(sum(new.values()) + sum(s for p, s in lnow.items() if p not in seen))
            seen = {**now, **lnow}
        n += 1
        if (n - PRE) % READ_EVERY == 0:
            read_lat.append(_timed_read(spark, run, folds))
    elapsed = time.perf_counter() - t_start
    steps = n - PRE
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)

    run.metric("throughput_per_s", steps * BATCH_ROWS / elapsed, "1/s")
    run.metric("latency_p50_ms", quantile(fold_lat, 50), "ms")
    run.metric("latency_p90_ms", quantile(fold_lat, 90), "ms")
    run.alias("fold_rows_per_s", steps * BATCH_ROWS / elapsed, "rows/s")
    run.alias("fold_batch_p90_ms", quantile(fold_lat, 90), "ms")
    run.alias("state_read_p50_ms", quantile(read_lat, 50) if read_lat else 0.0, "ms")
    run.note(f"timed fold steps: {steps} of {BATCH_ROWS} rows; state reads: {len(read_lat)}")
    run.note("fold batch ms: " + ", ".join(f"{x:.0f}" for x in fold_lat))

    run.phase("timed loop done")
    # replay: a fresh closure (as after a restart) re-applies a committed id
    replay_log: list = []
    fresh = Folds(os.path.join(root, "state"), touched_log=replay_log)
    m, latest = _inputs(spark, paths[REPLAY_BATCH])
    t0 = time.perf_counter()
    with run.tracer.span("statefold.replay"):
        fresh.monoid(m, REPLAY_BATCH)
        fresh.latest(latest, REPLAY_BATCH)
    replay_ms = (time.perf_counter() - t0) * 1e3
    run.check(replay_log[0] == (REPLAY_BATCH, ()),
              f"replayed monoid batch {REPLAY_BATCH} touched {replay_log[0][1]}")

    run.layer_metric("statefold.monoid_fold_ms", float(np.median(monoid_ms)), "ms")
    run.layer_metric("statefold.latest_fold_ms", float(np.median(latest_ms)), "ms")
    run.layer_metric("statefold.read_state_ms", float(np.median(read_lat)) if read_lat else 0.0, "ms")
    run.layer_metric("statefold.replay_ms", replay_ms, "ms")
    if traced:
        run.layer_metric("statefold.jobs_per_fold", float(np.mean(jobs)), "count")
        run.layer_metric("statefold.touched_buckets", float(np.median(touched)), "count")
        run.layer_metric("statefold.bytes_written", float(sum(written)), "bytes")
        run.layer_metric("statefold.segments_max", seg_max, "count")
    run.phase("replay done")
    _check_state(spark, run, folds, tables[:n], steps)
    run.phase("state checked")


def _timed_read(spark, run: Run, folds: Folds) -> float:
    from hailstorm_spark.streaming.statefold import read_state

    t0 = time.perf_counter()
    with run.tracer.span("statefold.read_state"):
        try:
            read_state(spark, folds.monoid_dir).write.format("noop").mode("overwrite").save()
            read_state(spark, folds.latest_dir).write.format("noop").mode("overwrite").save()
            run.check(True, "")
        except Exception as e:  # a failed read is a failed operation
            run.check(False, f"read_state raised {type(e).__name__}: {e}")
    return (time.perf_counter() - t0) * 1e3


def _check_state(spark, run: Run, folds: Folds, tables: list, steps: int) -> None:
    """Both tables must equal a pure-Python fold of the applied batches."""
    from hailstorm_spark.streaming.statefold import read_state

    df = pd.concat([t.to_pandas() for t in tables], ignore_index=True)
    want_m = df.groupby("key")["v"].agg(s="sum", mn="min", mx="max").sort_index()
    got_m = read_state(spark, folds.monoid_dir).toPandas().set_index("key").sort_index()
    ok_m = want_m.index.equals(got_m.index) and all(
        (want_m[c].to_numpy() == got_m[c].to_numpy()).all() for c in MONOID
    )
    last = df.sort_values(["key", "ts", "uid"]).groupby("key").tail(1).set_index("key")
    got_l = read_state(spark, folds.latest_dir).toPandas().set_index("key").sort_index()
    ok_l = last.index.equals(got_l.index) and all(
        (last[c].to_numpy() == got_l[c].to_numpy()).all() for c in ("ts", "uid", "payload")
    )
    if not (ok_m and ok_l):
        # the whole loop's output is wrong; no single fold step can be
        # blamed, so every timed one counts as failed
        run.failed += steps
        run.problems.append(f"state differs from the pure-Python fold (monoid ok={ok_m}, "
                            f"latest ok={ok_l})")
