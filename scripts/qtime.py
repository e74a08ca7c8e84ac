"""Isolated per-query timing: min-of-N noop-sink runs in one session,
split into build (the query fn returning its DataFrame) and execute
(the noop write), with the Spark jobs the build launched.

Usage: python scripts/qtime.py <query> [<query> ...] [--n N]

Same methodology as bench.py (fresh session per invocation, warmup
pipeline, noop sink, min-of-N) so numbers are comparable; run from the
tree you want to measure (the baseline worktree or the working tree).
The warm-up reads its table through ``io``, and every table's schema
is read through ``io`` before timing, so a table's first read is not
charged to the first query that touches it. The build/execute split
is the one perfbench's ``analytics_batch`` reports as plan/exec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hailstorm_spark.io import TABLES, load_table, table_schema
from hailstorm_spark.registry import all_queries
from hailstorm_spark.session import build_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=2, help="runs per query (min is kept)")
    opts = ap.parse_args()
    n = opts.n
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name="hailstorm-qtime")
    sc = spark.sparkContext
    specs = all_queries()

    from pyspark.sql import functions as F

    (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") >= 0)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            table_schema(spark, sf_dir, t)

    out: dict[str, object] = {}
    for name in opts.queries:
        spec = specs.get(name)
        if spec is None:
            out[name] = "not registered"
            continue
        runs = []
        try:
            for i in range(n):
                group = f"qtime-{name}-{i}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                t1 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                runs.append((t2 - t0, t1 - t0, t2 - t1, build_jobs))
            total, build, execute, jobs = min(runs)
            out[name] = {
                "min": round(total, 3),
                "build_s": round(build, 3),
                "exec_s": round(execute, 3),
                "build_jobs": jobs,
                "runs": [round(r[0], 3) for r in runs],
            }
        except Exception as exc:  # noqa: BLE001
            sc.setLocalProperty("spark.jobGroup.id", None)
            out[name] = f"{type(exc).__name__}: {exc}"[:300]
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
