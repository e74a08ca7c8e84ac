"""r15 state-layer internals: log-structured monoid folds, threshold
compaction, the committed-frontier fast path, touched hints, and the
append-path uniqueness guard.

The structural claims these pin:
- a monoid fold's write path APPENDS O(|batch partials|) bytes and
  never rewrites standing segment files (the LSM contract);
- read_state's merging view equals the eager fold's table exactly;
- a bucket's segment count is bounded by the compaction threshold and
  compaction preserves the per-bucket replay fence;
- the frontier fast path changes no answers, and a fresh closure (a
  restarted process — where replays actually arrive) is still fenced;
- a batch violating the immutable stores' key-uniqueness contract
  dies loudly instead of appending silent duplicate state;
- every fold writes with min(n_buckets, cores) tasks and exactly one
  new file per touched bucket, and fold calls leave the session's
  confs as they found them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming.statefold import (
    _COMPACT_SEGMENTS,
    bucketed_latest_fold,
    bucketed_monoid_fold,
    read_state,
)

B = 8
MSCHEMA = "user_id long, one long, cents long"


def _files(state_dir: str) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for root, _dirs, names in os.walk(state_dir):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, state_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def _mrows(spark, d):
    return {
        r["user_id"]: (r["one"], r["cents"])
        for r in read_state(spark, d).collect()
    }


def test_monoid_fold_appends_without_rewriting_standing_segments(
    spark, tmp_path
):
    d = str(tmp_path / "state")
    fold = bucketed_monoid_fold(
        d, key="user_id", cols={"one": "sum", "cents": "sum"}, n_buckets=B
    )
    fold(
        spark.createDataFrame([(u, 1, 10 * u) for u in range(30)], MSCHEMA), 0
    )
    snap0 = _files(d)
    fold(spark.createDataFrame([(3, 1, 100)], MSCHEMA), 1)
    snap1 = _files(d)
    # LSM: batch 1 only ADDED files — every batch-0 segment untouched
    for path, meta in snap0.items():
        assert snap1.get(path) == meta, f"standing segment rewritten: {path}"
    assert len(snap1) > len(snap0)
    # and the merging read folds the segments
    got = _mrows(spark, d)
    assert got[3] == (2, 130)
    assert got[4] == (1, 40)


def test_monoid_read_merge_equals_eager_fold_table(spark, tmp_path):
    lsm = str(tmp_path / "lsm")
    fold = bucketed_monoid_fold(
        lsm,
        key="user_id",
        cols={"one": "sum", "cents": "min"},
        n_buckets=B,
    )
    batches = [
        [(u, 1, 100 - u) for u in range(20)],
        [(u, 1, 7) for u in range(0, 20, 3)],
        [(5, 1, 999), (21, 1, 1)],
    ]
    acc: dict[int, tuple[int, int]] = {}
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, MSCHEMA), i)
        for u, one, c in rows:
            po, pc = acc.get(u, (0, None))
            acc[u] = (po + one, c if pc is None else min(pc, c))
    assert _mrows(spark, lsm) == acc


def test_monoid_compaction_bounds_segments_and_keeps_fence(spark, tmp_path):
    d = str(tmp_path / "state")
    log: list = []
    fold = bucketed_monoid_fold(
        d, key="user_id", cols={"one": "sum"}, n_buckets=2, touched_log=log
    )
    n_batches = _COMPACT_SEGMENTS + 3
    one = spark.createDataFrame([(1, 1)], "user_id long, one long")
    for i in range(n_batches):
        fold(one, i)
    # the touched bucket's segment count stays bounded by the threshold
    # (compaction folds it to 1 whenever the count reaches K)
    from hailstorm_spark.streaming.statefold import _bucket_file_counts

    counts = _bucket_file_counts(d)
    assert max(counts.values()) <= _COMPACT_SEGMENTS
    got = {
        r["user_id"]: r["one"] for r in read_state(spark, d).collect()
    }
    assert got == {1: n_batches}
    # fence survived compaction: replaying ANY earlier batch is a no-op
    snap = _files(d)
    for i in range(n_batches):
        fold(one, i)
    assert _files(d) == snap
    assert got == {
        r["user_id"]: r["one"] for r in read_state(spark, d).collect()
    }


def test_monoid_frontier_fast_path_matches_fenced_path(spark, tmp_path):
    fast_d = str(tmp_path / "fast")
    slow_d = str(tmp_path / "slow")
    log: list = []  # touched_log disables the fast path
    fast = bucketed_monoid_fold(
        fast_d, key="user_id", cols={"one": "sum"}, n_buckets=B
    )
    slow = bucketed_monoid_fold(
        slow_d, key="user_id", cols={"one": "sum"}, n_buckets=B,
        touched_log=log,
    )
    for i in range(4):
        rows = spark.createDataFrame(
            [(u, 1) for u in range(i, 10 + i)], "user_id long, one long"
        )
        fast(rows, i)
        slow(rows, i)
    want = {
        r["user_id"]: r["one"] for r in read_state(spark, slow_d).collect()
    }
    got = {
        r["user_id"]: r["one"] for r in read_state(spark, fast_d).collect()
    }
    assert got == want
    # a FRESH closure (= restarted process) replaying an old batch is
    # fenced by the standing _b stamps, not by any in-memory state
    snap = _files(fast_d)
    fresh = bucketed_monoid_fold(
        fast_d, key="user_id", cols={"one": "sum"}, n_buckets=B
    )
    fresh(
        spark.createDataFrame([(u, 1) for u in range(2, 12)],
                              "user_id long, one long"),
        2,
    )
    assert _files(fast_d) == snap


def test_immutable_compaction_bounds_files_and_keeps_rows(spark, tmp_path):
    d = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        d, key="event_id", order_cols=("event_id",), n_buckets=2,
        immutable=True,
    )
    n_batches = _COMPACT_SEGMENTS + 3
    for i in range(n_batches):
        fold(
            spark.createDataFrame(
                [(i, 100 + i, 1, f"v{i}")],
                "user_id long, event_id long, ts_us long, payload string",
            ),
            i,
        )
    from hailstorm_spark.streaming.statefold import _bucket_file_counts

    assert max(_bucket_file_counts(d).values()) <= _COMPACT_SEGMENTS
    rows = {
        (r["event_id"], r["payload"])
        for r in read_state(spark, d).collect()
    }
    assert rows == {(100 + i, f"v{i}") for i in range(n_batches)}
    # fence survived compaction: stale replays no-op, file-identical
    snap = _files(d)
    for i in range(n_batches):
        fold(
            spark.createDataFrame(
                [(i, 100 + i, 1, f"v{i}")],
                "user_id long, event_id long, ts_us long, payload string",
            ),
            i,
        )
    assert _files(d) == snap


def test_immutable_append_rejects_duplicate_keys_in_bucket(spark, tmp_path):
    d = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        d, key="user_id", order_cols=("user_id",), n_buckets=B,
        immutable=True,
    )
    dup = spark.createDataFrame(
        [(7, 1, 1, "a"), (7, 2, 2, "b")],
        "user_id long, event_id long, ts_us long, payload string",
    )
    with pytest.raises(Exception, match="not key-unique"):
        fold(dup, 0)


def test_latest_fold_touched_hint_is_equivalent(spark, tmp_path):
    from hailstorm_spark.functions.hashing import spark_bucket

    hint_d = str(tmp_path / "hint")
    ref_d = str(tmp_path / "ref")
    hint = bucketed_latest_fold(
        hint_d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B
    )
    ref = bucketed_latest_fold(
        ref_d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=B
    )
    batches = [
        [(u, u, 100, "a") for u in range(12)],
        [(3, 30, 200, "b"), (5, 50, 200, "c")],
        [(3, 31, 150, "stale")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long, payload string"
        )
        hint(df, i, touched_hint={spark_bucket(r[0], B) for r in rows})
        ref(df, i)
    assert set(map(tuple, read_state(spark, hint_d).collect())) == set(
        map(tuple, read_state(spark, ref_d).collect())
    )


def _new_files_per_bucket(before: dict, after: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for p in after.keys() - before.keys():
        b = os.path.dirname(p)
        out[b] = out.get(b, 0) + 1
    return out


def _last_job_tasks(spark, group: str) -> int:
    """Tasks of the result stage of the group's last job: a fold's
    write is the last job it runs, and its result stage is the write."""
    st = spark.sparkContext.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(job.stageIds)).numTasks


@pytest.mark.parametrize("n_buckets", [16, 2])
def test_fold_writers_are_min_buckets_cores_one_file_per_bucket(
    spark, tmp_path, monkeypatch, n_buckets
):
    """Every fold writes with min(n_buckets, cores) tasks, one new file
    per touched bucket; the immutable append's uniqueness guard rides
    the write's own exchange."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hailstorm_spark.functions.hashing import spark_bucket

    sc = spark.sparkContext
    width = min(n_buckets, sc.defaultParallelism)
    lschema = "user_id long, ts long, uid long, payload string"
    folds = {
        "monoid": (
            bucketed_monoid_fold(
                str(tmp_path / "monoid"), key="user_id",
                cols={"one": "sum", "cents": "max"}, n_buckets=n_buckets,
            ),
            lambda keys, i: spark.createDataFrame(
                [(u, 1, u * i) for u in keys] + [(u, 1, 0) for u in keys[::3]],
                MSCHEMA,
            ),
        ),
        "latest": (
            bucketed_latest_fold(
                str(tmp_path / "latest"), key="user_id",
                order_cols=("ts", "uid"), n_buckets=n_buckets,
            ),
            lambda keys, i: spark.createDataFrame(
                [(u, i, u, f"p{i}") for u in keys], lschema
            ),
        ),
        "immutable": (
            bucketed_latest_fold(
                str(tmp_path / "immutable"), key="user_id",
                order_cols=("user_id",), n_buckets=n_buckets, immutable=True,
            ),
            lambda keys, i: spark.createDataFrame(
                [(u, 0, u, f"r{u}") for u in keys], lschema
            ),
        ),
    }
    plans: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    for name, (fold, make) in folds.items():
        d = str(tmp_path / name)
        fold(make(list(range(200)), 0), 0)
        # batch 1: overlapping keys for the mutable folds, fresh keys
        # for the immutable store (its rows never change)
        keys = list(range(200, 400) if name == "immutable" else range(100, 300))
        before = _files(d)
        group = f"fold-width-{name}-{n_buckets}"
        plans.clear()
        sc.setJobGroup(group, name)
        try:
            fold(make(keys, 1), 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        touched = {f"bucket={spark_bucket(u, n_buckets)}" for u in keys}
        assert _new_files_per_bucket(before, _files(d)) == dict.fromkeys(
            touched, 1
        ), name
        assert _last_job_tasks(spark, group) == width, name
        if name == "immutable":
            assert len(plans) == 1
            assert sum(
                line.lstrip(" +-:").startswith("Exchange ")
                for line in plans[0].splitlines()
            ) == 1, plans[0]


def test_folds_leave_session_confs_as_found(spark, tmp_path):
    """A fold call, two folds overlapped by ``_run_folds``, a
    partitioned upsert, a matview refresh, a staged streaming drain and
    the connected-components loop leave the three session settings as
    they found them — including a key that was unset, which must stay
    unset (the drain and the loop are run with the shuffle width
    unset)."""
    from hailstorm_spark.operators.dedup import connected_components
    from hailstorm_spark.queries.streaming_queries import (
        _run_folds,
        streaming_pchart_monitor,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.sources.partitionOverwriteMode",
    )
    def snapshot():
        return {k: spark.conf.get(k, None) for k in keys}

    original = snapshot()
    found = {keys[0]: "7", keys[1]: "true", keys[2]: None}

    lschema = "user_id long, ts long, uid long, payload string"
    batch = spark.createDataFrame(
        [(u, 1, u, "x") for u in range(50)], lschema
    )
    mbatch = spark.createDataFrame([(u, 1, u) for u in range(50)], MSCHEMA)
    latest = bucketed_latest_fold(
        str(tmp_path / "a"), key="user_id", order_cols=("ts", "uid"),
        n_buckets=B,
    )
    latest2 = bucketed_latest_fold(
        str(tmp_path / "b"), key="user_id", order_cols=("ts", "uid"),
        n_buckets=B,
    )
    monoid = bucketed_monoid_fold(
        str(tmp_path / "c"), key="user_id", cols={"one": "sum", "cents": "sum"},
        n_buckets=B,
    )
    try:
        for k, v in found.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        assert snapshot() == found
        latest(batch, 0)
        assert snapshot() == found
        _run_folds(
            spark,
            [lambda: latest2(batch, 0), lambda: monoid(mbatch, 0)],
            B,
            overlap=True,
        )
        assert snapshot() == found
        # the other dynamic-overwrite writers: a partitioned upsert and
        # a matview refresh
        from hailstorm_spark.operators.storage import upsert_partitioned
        from hailstorm_spark.queries.matview import events_matview_incremental_daily
        from tests.conftest import SF_DIR

        upsert_partitioned(
            mbatch.withColumn("day", F.lit(1)), str(tmp_path / "up"), "day"
        )
        assert snapshot() == found
        events_matview_incremental_daily(spark, SF_DIR)
        assert snapshot() == found
        # the drain's state-width pin and the loop's shuffle-width pin,
        # on a session where the shuffle width is unset
        spark.conf.unset(keys[0])
        found[keys[0]] = None
        assert snapshot() == found
        streaming_pchart_monitor(spark, SF_DIR)
        assert snapshot() == found
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
        )
        labels = connected_components(edges, local_cap=0)
        assert snapshot() == found
        assert {r[0]: r[1] for r in labels.collect()} == {
            1: 1, 2: 1, 3: 1, 5: 5, 6: 5
        }
    finally:
        for k, v in original.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
