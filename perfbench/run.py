"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the inputs from ``--seed``,
sets the program up ``SETUP_ROUNDS`` times, the first with the JVM
launch and the others after stopping the session (set-up time is the
median), runs the workload for ``--seconds``, checks its outputs,
stops Spark and its JVM, and prints one JSON object as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the per-layer ones: the workload then runs twice in
one process, untraced and traced, and the traced run also reports the
tracing overhead and its spans (written to ``.bench_work/traces/``).

All scratch files live under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up rounds per run, unless the workload module sets its own
SETUP_ROUNDS = 5

#: Layers whose share of the traced pass's self time is reported; a
#: workload that bypasses one reports 0 for it.
LAYERS = ("io", "queries", "operators", "sources", "bolt", "sinks", "stream", "statefold",
          "generator")


def _env(work: str, cores: int) -> None:
    """Process environment for Spark, its JVM and Python: every file they
    write stays inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the program's own heap setting; with 2g the collector's choice of
    # young-generation size moved the resident set by up to 35% from run
    # to run, with 1g by about 15% (the heap's peak use is 0.4-0.7 GB)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')}' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _build(run):
    """``build_spark`` for this run; returns (session, (start, end))."""
    from hailstorm_spark.session import build_spark

    t0 = time.time()
    spark = build_spark(app_name="perfbench", master=f"local[{run.cores}]",
                        extra_conf={"spark.sql.warehouse.dir": os.path.join(run.work, "wh"),
                                    "spark.ui.showConsoleProgress": "false"})
    return spark, (t0, time.time())


def _heap_peak_mb(spark) -> float:
    """The JVM's heap high-water mark: the sum of each heap pool's peak
    use (JMX ``MemoryPoolMXBean.getPeakUsage``). The heap is most of
    ``peak_rss_mb``, but how much of it is resident depends on when the
    collector grew it; this shows what the program kept in it."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 2**20


def _stop(spark) -> None:
    """Stop Spark, then its JVM; wait until every process started under
    this one (the JVM, its Python workers) has ended."""
    from pyspark import SparkContext

    from common import _tree_pids

    started = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    end = time.time() + 15
    while time.time() < end and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    for p in started:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local[N] (default: SPARK_GRAFT_CPUS, else usable CPUs)")
    ap.add_argument("--stream-events-per-s", type=int, default=None,
                    help="open-loop event rate of wordcount_stream")
    ap.add_argument("--drain-only", action="store_true",
                    help="wordcount_stream: report only the backlog drain rate")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import common

    try:
        import hailstorm_spark  # noqa: F401  the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import analytics
    import keyedfold
    import wordcount

    workloads = {"wordcount_stream": wordcount, "keyed_state_fold": keyedfold,
                 "analytics_batch": analytics}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(workloads)}", file=sys.stderr)
        return 2
    mod = workloads[args.workload]
    cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, cores)
    def new_run(sub: str, traced: bool, **opts) -> common.Run:
        w = os.path.join(work, sub)
        os.makedirs(w, exist_ok=True)
        opts.setdefault("stream_events_per_s", args.stream_events_per_s)
        return common.Run(seed=args.seed, seconds=args.seconds, cores=cores, work=w,
                          tracer=common.Tracer(traced), opts=opts)

    # in a traced run, the untraced pass of wordcount_stream only needs
    # the drain rate the tracing overhead is taken from
    run = new_run("untraced", False, single_drain=args.drain_only,
                  drain_only=args.drain_only or (args.trace and args.workload == "wordcount_stream"))
    runs = [run]
    spark = None
    try:
        with common.RssSampler() as rss:
            inputs_dir = os.path.join(work, "inputs")
            os.makedirs(inputs_dir)
            inputs = mod.prepare(run, inputs_dir)
            run.phase("inputs ready")
            setups, builds = [], []
            for i in range(getattr(mod, "SETUP_ROUNDS", SETUP_ROUNDS)):
                if i:
                    spark.stop()
                t0 = time.perf_counter()
                spark, b = _build(run)
                handle = mod.setup(spark, run, inputs)
                setups.append(time.perf_counter() - t0)
                builds.append(b)
            run.metric("setup_s", statistics.median(setups), "s")
            run.note("set-up rounds s: " + ", ".join(f"{x:.3f}" for x in setups))
            run.phase("set-up rounds done")
            steal0 = common.host_steal()
            mod.run_workload(spark, run, inputs, handle)
            steal1 = common.host_steal()
            run.note(f"host CPU steal during the workload: "
                     f"{100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1f}%")
            run.phase("workload done")
            if args.trace:
                traced = new_run("traced", True, skip_oracle_check=True)
                runs.append(traced)
                handle = mod.setup(spark, traced, inputs)
                mod.run_workload(spark, traced, inputs, handle)
                if args.workload == "wordcount_stream":
                    one = wordcount.baseline_1core(traced)
                    traced.layer_metric("stream.drain_speedup_vs_1core",
                                        run.metrics["throughput_per_s"][0] / one, "x")
            run.layer_metric("jvm.heap_peak_mb", _heap_peak_mb(spark), "MB")
            run.note(f"JVM heap peak: {run.layer['jvm.heap_peak_mb'][0]:.0f} MB")
            _stop(spark)
            spark = None
            run.phase("stopped")
    finally:
        if spark is not None:
            _stop(spark)

    run.metric("peak_rss_mb", rss.peak_mb, "MB")
    run.note("peak RSS by process (kB): " + ", ".join(
        f"{pid}:{kb}" for pid, kb in sorted(rss.peak_detail.items(), key=lambda x: -x[1])))
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    problems = [p for r in runs for p in r.problems]

    layer: dict[str, tuple[float, str]] = {}
    if args.drain_only:
        metrics = {"throughput_per_s": run.metrics["throughput_per_s"]}
    elif args.trace:
        t = runs[1]
        layer.update(run.layer)
        layer.update(t.layer)
        layer["session.jvm_launch_s"] = (builds[0][1] - builds[0][0], "s")
        layer["session.build_s"] = (statistics.median(e - s for s, e in builds[1:]), "s")
        self_s = {k: v for k, v in t.tracer.self_time_by_layer().items() if k in LAYERS}
        for name in LAYERS:
            layer[f"self_s.{name}"] = (self_s.get(name, 0.0), "s")
            layer[f"share.{name}"] = (100.0 * self_s.get(name, 0.0) / sum(self_s.values()), "%")
        base = run.metrics["throughput_per_s"][0]
        layer["trace.overhead_pct"] = (
            (base - t.metrics["throughput_per_s"][0]) / base * 100.0, "%")
        t.tracer.write(os.path.join(ROOT, ".bench_work", "traces",
                                    f"{args.workload}-{args.seed}.jsonl"))
        # a layer this workload never reaches did no work: 0
        metrics = {n: layer.get(n, (0.0, u)) for n, u in _per_layer_names()}
    else:
        metrics = {n: run.metrics[n] for n, _ in _end_to_end_names()}
    run.metric("failed_frac", failed / max(attempted, 1), "1")

    # every figure by name; the JSON line carries BENCHMARK.json's only
    for name, (v, unit) in sorted({**run.aliases, **run.metrics, **layer}.items()):
        print(f"{args.workload}: {name} = {v:.6g} {unit}")
    for note in run.notes:
        print(f"{args.workload}: {note}")
    for p in problems[:20]:
        print(f"{args.workload}: PROBLEM {p}")
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _end_to_end_names() -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in _bench_json()["end_to_end"]]


def _per_layer_names() -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in _bench_json()["per_layer"]]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
