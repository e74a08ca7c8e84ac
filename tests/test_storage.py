"""Storage-layout plans: co-located bucketed joins (no Exchange),
partition pruning (PartitionFilters), compaction."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from hailstorm_spark.io import load_table
from hailstorm_spark.operators.storage import (
    compact_parquet,
    write_bucketed,
    write_partitioned,
)
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    to, tl = f"t_o_{uuid.uuid4().hex[:8]}", f"t_l_{uuid.uuid4().hex[:8]}"
    write_bucketed(o, to, str(tmp_path / "o"), by="o_orderkey", buckets=8)
    write_bucketed(li, tl, str(tmp_path / "l"), by="l_orderkey", buckets=8)

    # at test scale the planner rightly prefers broadcasting the small
    # side (which also needs no data-shuffling Exchange); to observe the
    # large-large co-located path, disable auto-broadcast — the shape
    # that matters when BOTH sides are fact-table-sized
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo, bl = spark.table(to), spark.table(tl)
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = _plan(joined)
        assert "Exchange" not in plan, plan  # both sides pre-bucketed on the key
        assert "SortMergeJoin" in plan
        # and the answer matches the plain shuffled join
        plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_groupby_has_no_exchange(spark, tmp_path):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    t = f"t_g_{uuid.uuid4().hex[:8]}"
    write_bucketed(li, t, str(tmp_path / "g"), by="l_orderkey", buckets=8)
    agg = spark.table(t).groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan(agg)


def test_partitioned_write_prunes(spark, tmp_path):
    e = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_by_day")
    write_partitioned(e.select("event_id", "event_type", "value", "day"), out, "day")

    back = spark.read.parquet(out)
    days = [r.day for r in back.select("day").distinct().collect()]
    one_day = sorted(days)[0]
    pruned = back.filter(F.col("day") == one_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"isnotnull(day" in plan or one_day in plan
    expected = e.filter(F.col("day") == one_day).count()
    assert pruned.count() == expected


def test_compact_parquet_preserves_rows(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "many_files")
    docs.repartition(40).write.parquet(out)
    before = docs.count()
    n_files = compact_parquet(spark, out, target_bytes=1 << 30)
    assert n_files == 1
    import os

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    assert spark.read.parquet(out).count() == before


def test_range_sorted_write_is_globally_ordered(spark, tmp_path):
    from hailstorm_spark.operators.storage import write_range_sorted

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    out = str(tmp_path / "sorted")
    write_range_sorted(o, out, "o_totalprice", partitions=8)

    import pyarrow.parquet as pq
    import os

    # per-file [min, max] of the sort column must be non-overlapping
    # once ordered by min — the property that makes range pruning work
    ranges = []
    for f in sorted(os.listdir(out)):
        if f.startswith("part-"):
            t = pq.read_table(os.path.join(out, f), columns=["o_totalprice"])
            col = t["o_totalprice"].to_pylist()
            if col:
                ranges.append((min(col), max(col)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # and nothing was lost
    assert spark.read.parquet(out).count() == o.count()


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """Dynamic partition overwrite: an upsert of one partition must not
    touch the files of the others (the incremental daily-rebuild
    contract)."""
    import os

    from pyspark.sql import functions as F

    from hailstorm_spark.operators.storage import (
        upsert_partitioned,
        write_partitioned,
    )

    path = str(tmp_path / "ds")
    base = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"), ("2024-01-02", 3, "c")],
        ["day", "id", "v"],
    )
    write_partitioned(base, path, "day")

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    day1_before = files_of("2024-01-01")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key, None)

    upsert = spark.createDataFrame(
        [("2024-01-02", 3, "c2"), ("2024-01-02", 4, "d")], ["day", "id", "v"]
    )
    upsert_partitioned(upsert, path, "day")

    # untouched partition: identical files, byte timestamps and all
    assert files_of("2024-01-01") == day1_before
    # partition values are type-inferred on read (day comes back DATE)
    out = {
        (r.day, r.id, r.v)
        for r in spark.read.parquet(path)
        .select(F.col("day").cast("string").alias("day"), "id", "v")
        .collect()
    }
    assert out == {
        ("2024-01-01", 1, "a"),
        ("2024-01-01", 2, "b"),
        ("2024-01-02", 3, "c2"),
        ("2024-01-02", 4, "d"),
    }
    # the session's overwrite mode is left as found: static (the mode
    # is passed per write; its values are case-insensitive)
    assert spark.conf.get(mode_key, None) == mode_before
    assert spark.conf.get(mode_key).upper() == "STATIC"


def test_incremental_band_index_probe_is_one_sided(spark):
    """dedup_incremental_bucketed_index: the persisted band index is
    bucketed on the probe keys, so the semi-join plan must contain no
    shuffle Exchange on the index (bucketed-scan) side — only the daily
    slice moves. At 100 TB of history this one-sidedness IS the query.
    """
    from hailstorm_spark.queries.dedup import (
        band_keys_of,
        incremental_fixture,
    )
    from hailstorm_spark.operators.storage import write_bucketed
    import tempfile
    import uuid

    docs, new_batch = incremental_fixture(spark, SF_DIR)
    idx = band_keys_of(docs).select("band_idx", "band_key").distinct()
    t = f"t_bandidx_{uuid.uuid4().hex[:8]}"
    write_bucketed(
        idx, t, tempfile.mkdtemp(prefix="hs_bandidx_t_"), by=["band_idx", "band_key"], buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = band_keys_of(new_batch).join(
            spark.table(t), ["band_idx", "band_key"], "left_semi"
        )
        plan = _plan(probe)
        # the bucketed side appears as a FileScan of the saved table with
        # SelectedBucketsCount; between it and the join there must be no
        # Exchange (the only allowed Exchange feeds the probe side)
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        assert t in plan, plan
        # one-sidedness: at most one hash Exchange in the whole plan (the
        # probe side's); a second would mean the index was re-shuffled
        assert plan.count("Exchange hashpartitioning") <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_colocated_revenue_query_single_exchange(spark):
    """The registered bucketed-join query's whole plan must carry
    exactly ONE Exchange — the ~5-group priority rollup; the
    orders⋈lineitem join itself rides the bucket layout. Broadcast is
    disabled to observe the large-large shape the query exists to pin
    (at test scale the planner would rightly broadcast orders)."""
    from hailstorm_spark.registry import all_queries

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["join_bucketed_colocated_revenue"].fn(spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("Exchange") == 1, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dpp_query_prunes_fact_scan(spark):
    """The registered DPP query's fact scan must carry a dynamic
    pruning expression on the partition column — the runtime-pruned
    scan is the entire point of the query."""
    from hailstorm_spark.registry import all_queries

    df = all_queries()["scan_dynamic_partition_pruning"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan
