"""Workload ``analytics_batch``: a fixed mix of registered queries.

A closed loop with one client runs ``MIX`` in order, each query
materialised with a ``noop`` write, and keeps going in whole passes
until the run's seconds are used. Before timing, one pass collects
every query and compares it with its registered DuckDB oracle on the
same generated parquet tables (order-insensitive, column-name
sensitive); that pass also fills the JVM's code caches. No streaming.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np

import datagen
from common import Run, quantile

SF = 0.01
#: a round rebuilds the session and registers ten tables (1.4-1.9 s)
SETUP_ROUNDS = 3
#: relational, window, event, dedup, similarity and text (word count)
#: queries. ``q21_waiting_suppliers``, ``corpus_prep_clean`` and
#: ``text_tfidf_top_terms`` are left out and the brute-force
#: ``ann_cosine_topk`` stands in for ``ann_cosine_topk_ivf``: those four
#: alone take 18 s of the first (untimed, checked) pass, which a run
#: cannot afford
MIX = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_nation_revenue",
    "window_rank_orders_per_customer",
    "events_sessionize",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk",
    "wordcount_top20",
)


def prepare(run: Run, inputs: str) -> str:
    """Write the star schema at scale factor ``SF``; returns its directory."""
    sf_dir = os.path.join(inputs, "sf")
    datagen.write_star_schema(sf_dir, SF, run.seed)
    return sf_dir


def setup(spark, run: Run, sf_dir: str) -> None:
    """Program-side set-up: the query registry, and every table
    registered through ``io``."""
    from hailstorm_spark.io import load_tables
    from hailstorm_spark.registry import all_queries

    t0 = time.perf_counter()
    with run.tracer.span("queries.registry"):
        all_queries()
    run.layer.setdefault("queries.registry_import_s", (time.perf_counter() - t0, "s"))
    with run.tracer.span("io.load_tables"):
        load_tables(spark, sf_dir)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _digest(cols: list[str], rows: list[tuple]) -> str:
    """Hash of the result with columns in name order and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def check_oracles(spark, run: Run, sf_dir: str) -> set[str]:
    """Collect each query once and hash-match it against its DuckDB
    oracle; returns the names that failed."""
    import duckdb

    from hailstorm_spark.io import TABLES, table_path
    from hailstorm_spark.registry import all_queries

    specs = all_queries()
    bad = set()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name in MIX:
            try:
                df = specs[name].fn(spark, sf_dir)
                got = _digest(df.columns, [tuple(r) for r in df.collect()])
                rel = con.execute(specs[name].oracle)
                want = _digest([d[0] for d in rel.description], rel.fetchall())
                if got != want:
                    bad.add(name)
                    run.problems.append(f"{name}: result does not match its oracle")
            except Exception as e:  # one broken query must not hide the rest
                bad.add(name)
                run.problems.append(f"{name}: {type(e).__name__}: {e}")
    finally:
        con.close()
    return bad


def run_workload(spark, run: Run, sf_dir: str, _handle=None) -> None:
    from hailstorm_spark.registry import all_queries

    specs = all_queries()
    bad = set() if run.opts.get("skip_oracle_check") else check_oracles(spark, run, sf_dir)
    traced = run.tracer.enabled
    sc = spark.sparkContext
    lat: list[float] = []
    per_q: dict[str, list[tuple[float, float, int]]] = {q: [] for q in MIX}
    done = 0
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < run.seconds:
        for name in MIX:
            if traced:
                sc.setJobGroup(f"{name}-{done}", name)
            t0 = time.perf_counter()
            ok = name not in bad
            with run.tracer.span(f"queries.{name}", trace=f"{name}-{done}"):
                try:
                    with run.tracer.span(f"queries.{name}.plan"):
                        df = specs[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with run.tracer.span(f"operators.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted as a failed query
                    ok = False
                    run.problems.append(f"{name}: {type(e).__name__}: {e}")
                    t1 = time.perf_counter()
            t2 = time.perf_counter()
            run.attempted += 1
            run.failed += 0 if ok else 1
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"{name}-{done}")) if traced else 0
            per_q[name].append((t1 - t0, t2 - t1, jobs))
            lat.append((t2 - t0) * 1e3)
            done += 1
    elapsed = time.perf_counter() - t_start
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)

    run.metric("throughput_per_s", done / elapsed, "1/s")
    run.metric("latency_p50_ms", quantile(lat, 50), "ms")
    run.metric("latency_p90_ms", quantile(lat, 90), "ms")
    run.alias("batch_queries_per_min", done * 60.0 / elapsed, "queries/min")
    run.note(f"queries run: {done} ({done // len(MIX)} passes of {len(MIX)})")
    for name, xs in per_q.items():
        run.layer_metric(f"queries.{name}.plan_s", float(np.median([x[0] for x in xs])), "s")
        run.layer_metric(f"queries.{name}.exec_s", float(np.median([x[1] for x in xs])), "s")
        if traced:
            run.layer_metric(f"queries.{name}.jobs", float(np.median([x[2] for x in xs])), "count")
    plan = sum(x[0] for xs in per_q.values() for x in xs)
    execute = sum(x[1] for xs in per_q.values() for x in xs)
    run.layer_metric("queries.plan_pct", 100.0 * plan / (plan + execute), "%")
    if traced:
        run.layer_metric("queries.jobs_per_pass", sum(
            run.layer[f"queries.{q}.jobs"][0] for q in MIX), "count")
        _scan_times(spark, run, sf_dir)


def _scan_times(spark, run: Run, sf_dir: str) -> None:
    """io.scan_s.<table>: a full scan of each table through ``io``. Not
    recorded as spans: the layer shares are of the workload's own time."""
    from hailstorm_spark.io import TABLES, load_table

    for t in TABLES:
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        run.layer_metric(f"io.scan_s.{t}", float(np.median(times)), "s")
