"""The latest-wins keyed state as an append-only log of per-key winners
(streaming/statefold.py, ``bucketed_latest_fold`` bucketing on its own
key), merged on read with ``max_by``.

The claims these pin:
- the merge is idempotent, so a replayed batch through a fresh closure
  and a fresh checkpoint whose batch ids restart at 0 both fold
  correctly with no fence;
- the newest version wins whatever segment it sits in, before and
  after a bucket's compaction at ``_COMPACT_SEGMENTS``;
- the tombstone sweep judges a key's merged row, so an older live
  version cannot outlive a newer expired tombstone;
- ``read_state`` on a sidecar layout is built without a Spark job;
- the ER label readers that bypass ``read_state`` resolve each doc to
  its newest label on both the driver-local and the distributed path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hailstorm_spark.streaming.statefold import (
    _COMPACT_SEGMENTS,
    bucketed_latest_fold,
    compact_expired_tombstones,
    read_state,
)

SCHEMA = "user_id long, event_id long, ts_us long, payload string"


def _fold(state_dir: str, n_buckets: int = 8):
    return bucketed_latest_fold(
        state_dir, key="user_id", order_cols=("ts_us", "event_id"),
        n_buckets=n_buckets,
    )


def _rows(spark, state_dir):
    return {tuple(r) for r in read_state(spark, state_dir).collect()}


def _data_files(state_dir: str) -> set[str]:
    return {
        os.path.join(root, n)
        for root, _dirs, names in os.walk(state_dir)
        for n in names
        if not n.startswith(("_", "."))
    }


def test_replay_through_a_fresh_closure_changes_nothing(spark, tmp_path):
    d = str(tmp_path / "state")
    fold = _fold(d)
    batches = [
        [(u, u, 100, f"a{u}") for u in range(20)],
        [(3, 30, 200, "b3"), (4, 40, 50, "stale4")],
        [(3, 31, 150, "stale3"), (5, 50, 300, "b5")],
    ]
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, SCHEMA), i)
    want = _rows(spark, d)
    files = _data_files(d)
    # a restarted process re-applies committed batch 1
    _fold(d)(spark.createDataFrame(batches[1], SCHEMA), 1)
    assert _data_files(d) > files, "the replay should append a segment"
    assert _rows(spark, d) == want
    assert (3, 30, 200, "b3") in want and (4, 4, 100, "a4") in want


def test_batch_ids_restarting_at_zero_still_apply(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0 over standing state.
    With a ``_b`` fence (and no epoch) these batches would be skipped
    as replays; the idempotent merge needs neither and applies them."""
    d = str(tmp_path / "state")
    old = _fold(d)
    for i in range(3):
        old(spark.createDataFrame([(1, i, 100 + i, f"old{i}")], SCHEMA), i)
    fresh = _fold(d)
    fresh(spark.createDataFrame([(1, 10, 500, "new"), (2, 11, 1, "x")], SCHEMA), 0)
    assert _rows(spark, d) == {(1, 10, 500, "new"), (2, 11, 1, "x")}


def test_newest_version_wins_across_segments_and_compaction(spark, tmp_path):
    """One bucket, so every batch lands in the same directory: before
    the threshold the bucket holds one segment per batch and the read
    merges them; the batch that meets the threshold compacts it to one
    file holding one row per key. Arrival order never decides: late
    stale versions arrive after newer ones throughout."""
    d = str(tmp_path / "state")
    fold = _fold(d, n_buckets=1)
    keys = range(6)
    for i in range(_COMPACT_SEGMENTS):
        rows = [(k, 100 * i + k, 10 * i, f"v{i}-{k}") for k in keys]
        if i:
            rows.append((0, -i, 0, f"stale{i}"))  # older than v0 of key 0
        fold(spark.createDataFrame(rows, SCHEMA), i)
        want = {(k, 100 * i + k, 10 * i, f"v{i}-{k}") for k in keys}
        assert _rows(spark, d) == want
        assert len(_data_files(d)) == i + 1
    # the bucket is at the threshold: this batch compacts it, and
    # carries a newer version of key 1 and a stale one of key 2
    fold(
        spark.createDataFrame(
            [(1, 9001, 10**6, "newest1"), (2, -1, -1, "stale2")], SCHEMA
        ),
        _COMPACT_SEGMENTS,
    )
    files = _data_files(d)
    assert len(files) == 1
    assert spark.read.parquet(*files).count() == len(keys)
    last = _COMPACT_SEGMENTS - 1
    want = {(k, 100 * last + k, 10 * last, f"v{last}-{k}") for k in keys if k != 1}
    assert _rows(spark, d) == want | {(1, 9001, 10**6, "newest1")}


def test_tombstone_sweep_merges_versions_before_expiring(spark, tmp_path):
    """A bucket holds an older LIVE version of a key in one segment and
    a newer expired tombstone of it in another. The sweep must drop the
    key, not resurrect the live version; another key of that bucket
    survives, and the dirty bucket ends up as one file."""
    d = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        d, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=1
    )
    schema = "user_id long, event_id long, ts_us long, is_delete boolean"
    fold(spark.createDataFrame([(1, 1, 100, False), (2, 2, 100, False)], schema), 0)
    fold(spark.createDataFrame([(1, 3, 200, True)], schema), 1)
    assert {r["user_id"] for r in read_state(spark, d).filter("NOT is_delete").collect()} == {2}
    dirty = compact_expired_tombstones(
        spark, d, F.col("is_delete") & (F.col("ts_us") < 500)
    )
    assert dirty == (0,)
    assert _rows(spark, d) == {(2, 2, 100, False)}
    assert len(_data_files(d)) == 1


def test_read_state_on_a_sidecar_layout_launches_no_job(spark, tmp_path):
    from hailstorm_spark.streaming.statefold import bucketed_monoid_fold

    latest_dir, monoid_dir = str(tmp_path / "latest"), str(tmp_path / "monoid")
    fold = _fold(latest_dir)
    monoid = bucketed_monoid_fold(
        monoid_dir, key="user_id", cols={"one": "sum"}, n_buckets=8
    )
    for i in range(2):
        fold(spark.createDataFrame([(u, i, i, "p") for u in range(30)], SCHEMA), i)
        monoid(spark.createDataFrame([(u, 1) for u in range(30)], "user_id long, one long"), i)
    # a column added mid-stream is in the recorded schema too
    fold(
        spark.createDataFrame(
            [(7, 9, 9, "q", "DE")], SCHEMA + ", country string"
        ),
        2,
    )
    sc = spark.sparkContext
    group = "read-state-no-job"
    sc.setJobGroup(group, "build read_state")
    try:
        frames = [read_state(spark, latest_dir), read_state(spark, monoid_dir)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert frames[0].columns == ["user_id", "event_id", "ts_us", "payload", "country"]
    got = {r["user_id"]: r["country"] for r in frames[0].collect()}
    assert got[7] == "DE" and got[8] is None and len(got) == 30
    assert {r["one"] for r in frames[1].collect()} == {2}


def _label_layout(spark, tmp_path):
    """A label log over docs ``x`` and ``y`` of ONE bucket: x's newest
    label (cluster 1) sits in the later segment and y's (its own
    cluster) in the earlier one, behind an older version replayed late.
    So neither first-seen nor last-seen picks the newest for both, and
    y's stale label names a cluster with live members. Plus the
    matching cluster index (read-rewrite, one row per key)."""
    from hailstorm_spark.functions.hashing import spark_bucket
    from hailstorm_spark.queries.streaming_queries import _ER_STATE_BUCKETS

    by_bucket: dict[int, int] = {}
    for d in range(10, 1000):
        b = spark_bucket(d, _ER_STATE_BUCKETS)
        if b in by_bucket:
            x, y = by_bucket[b], d
            break
        by_bucket[b] = d
    labels_dir = str(tmp_path / "labels")
    index_dir = str(tmp_path / "clusteridx")
    lf = bucketed_latest_fold(
        labels_dir, key="doc_id", order_cols=("v",), n_buckets=_ER_STATE_BUCKETS
    )
    ixf = bucketed_latest_fold(
        index_dir, key="ikey", order_cols=("v",),
        n_buckets=_ER_STATE_BUCKETS, bucket_col="icluster",
    )
    lschema = "doc_id long, cluster_id long, v long"
    lf(spark.createDataFrame([(1, 1, 0), (x, x, 0), (5, 5, 0), (y, y, 1)], lschema), 0)
    lf(spark.createDataFrame([(x, 1, 1), (y, 1, 0)], lschema), 1)
    index = [
        ("1:1", 1, 1, 1, 0), (f"{x}:{x}", x, x, 0, 1), (f"{x}:1", x, 1, 1, 1),
        ("5:5", 5, 5, 1, 0), (f"{y}:{y}", y, y, 1, 1), (f"{y}:1", y, 1, 0, 1),
    ]
    ixf(
        spark.createDataFrame(
            index, "ikey string, doc_id long, icluster long, alive int, v long"
        ),
        0,
    )
    return labels_dir, index_dir, x, y


def test_er_label_readers_resolve_the_newest_version(spark, tmp_path, monkeypatch):
    """Pairs (5, x) and (y, n), n new: at their newest versions x
    stands in cluster 1 and y in its own. Cluster 5 merges into 1 and
    n joins y. Resolving x or y to its older version, or to both,
    merges other clusters."""
    import hailstorm_spark.operators.dedup as dd
    from hailstorm_spark.queries.streaming_queries import (
        _er_indexed_changes,
        _er_indexed_changes_local,
    )

    labels_dir, index_dir, x, y = _label_layout(spark, tmp_path)
    assert {
        (r["doc_id"], r["cluster_id"]) for r in read_state(spark, labels_dir).collect()
    } == {(1, 1), (x, 1), (5, 5), (y, y)}
    n = 10**6
    pair_rows = [(5, x), (y, n)]
    want = {(5, 1, 5), (n, y, None)}

    def rows(df):
        return {(r["doc_id"], r["cluster_id"], r["old_cluster_id"]) for r in df.collect()}

    assert rows(_er_indexed_changes_local(spark, labels_dir, index_dir, pair_rows)) == want
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    monkeypatch.setattr(dd, "DELTA_CLOSURE_LOCAL_CAP", 1)  # 2 pairs: distributed
    assert rows(_er_indexed_changes(spark, labels_dir, index_dir, pairs)) == want
