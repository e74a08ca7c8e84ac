"""Workload ``wordcount_stream``: the reference word-count topology.

``file_lines_stream`` (word-per-line files in a watched directory) →
``streaming_word_counts`` (count bolt, RocksDB state store) →
``topk_file_sink`` (exactly-once atomic top-20 rewrite per trigger),
with ``observe_stream`` counting input rows per batch.

Phase (a): a pre-written backlog is drained with ``availableNow``,
``DRAINS`` times from fresh checkpoints; the median gives the drain
rate. Phase (b): the last drain's checkpoint is restarted with the
default trigger while an open-loop generator thread writes one file
every ``TICK_S`` seconds at a fixed event rate. A file's events are
stamped with the file's *scheduled* time; an event's latency runs from
that time to the moment the top-k publish of the batch that first
includes its file completes (the published file's mtime, seen by a
polling thread, matched to the batch's trigger interval).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

import datagen
from common import Run, Tracer, quantile

VOCAB = 100_000
ZIPF_S = 1.1
TOP_K = 20
BACKLOG_FILES = 30
BACKLOG_FILE_EVENTS = 5_000
DRAINS = 4
#: untimed drains of the same backlog before the timed ones; rates
#: still rise by up to a third over the timed drains while the JVM
#: compiles the hot paths, hence the median of ``DRAINS``
WARM_DRAINS = 1
TICK_S = 0.1


class PublishWatcher:
    """Polls the top-k file; every replacement (new inode) is one
    publish, timed by the file's mtime (written just before the
    rename)."""

    def __init__(self, path: str, period: float = 0.002):
        self.path, self.period = path, period
        self.publishes: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="publish-watch", daemon=True)

    def _run(self) -> None:
        last = None
        while not self._stop.is_set():
            try:
                st = os.stat(self.path)
                ident = (st.st_ino, st.st_mtime_ns)
                if ident != last:
                    last = ident
                    self.publishes.append(st.st_mtime_ns / 1e9)
            except FileNotFoundError:
                pass
            time.sleep(self.period)

    def start(self) -> "PublishWatcher":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class OpenLoopGenerator:
    """One thread writing ``rate * tick`` events every ``tick`` seconds
    on a fixed schedule, whatever the query does. Records each file's
    scheduled time and how late the write finished."""

    def __init__(self, words: datagen.ZipfWords, in_dir: str, stage_dir: str,
                 rate: int, tick: float, seconds: float, tracer: Tracer):
        self.words, self.in_dir, self.stage_dir = words, in_dir, stage_dir
        self.tracer = tracer
        self.per_file = max(1, int(round(rate * tick)))
        self.tick, self.n_files = tick, int(round(seconds / tick))
        self.files: list[tuple[str, float, int]] = []  # (path, scheduled, events)
        self.late_max = 0.0
        self._thread = threading.Thread(target=self._run, name="open-loop", daemon=True)
        self.error: BaseException | None = None

    def _run(self) -> None:
        try:
            t0 = time.time()
            for k in range(self.n_files):
                due = t0 + k * self.tick
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                path = os.path.join(self.in_dir, f"ol-{k:06d}.txt")
                start = time.time()
                datagen.write_word_file(self.words.draw(self.per_file), self.stage_dir, path)
                end = time.time()
                self.tracer.add("generator.write", start, end, trace=f"file-{k}")
                self.late_max = max(self.late_max, end - due)
                self.files.append((path, due, self.per_file))
        except BaseException as e:  # reported by the caller after join
            self.error = e

    def start(self) -> "OpenLoopGenerator":
        self._thread.start()
        return self

    def join(self) -> None:
        self._thread.join()


def _progress_listener(events: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Collect()


def _file_batches(ckpt: str) -> dict[str, int]:
    """file path → id of the batch that first read it, from the file
    source's log in the checkpoint (plain and compacted entries)."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    p = e["path"].removeprefix("file://")
                    out[p] = min(out.get(p, e["batchId"]), e["batchId"])
    return out


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Pipeline:
    """The topology under test, built only from the package's public
    functions."""

    def __init__(self, spark, in_dir: str, out_file: str):
        from hailstorm_spark.observability import observe_stream
        from hailstorm_spark.streaming.bolt import streaming_word_counts
        from hailstorm_spark.streaming.sources import file_lines_stream

        self.spark, self.out_file = spark, out_file
        lines = observe_stream(file_lines_stream(spark, in_dir), "wc_in")
        self.counts = streaming_word_counts(lines, word_col="line")

    def writer(self, ckpt: str, sink: str = "topk"):
        from hailstorm_spark.streaming.sinks import topk_file_sink

        if sink == "noop":
            return (
                self.counts.writeStream.outputMode("complete").format("noop")
                .option("checkpointLocation", ckpt)
            )
        return topk_file_sink(self.counts, self.out_file, ckpt, k=TOP_K, key_col="line")


def prepare(run: Run, inputs: str) -> None:
    """The word files are written during the run, from the seed."""


def setup(spark, run: Run, _inputs=None) -> "Pipeline":
    """Program-side set-up: build the streaming plan (not started)."""
    d = os.path.join(run.work, "wc")
    for sub in ("backlog", "warm", "stage", "out", "ckpt"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    with run.tracer.span("sources.plan"):
        return Pipeline(spark, os.path.join(d, "backlog"), os.path.join(d, "out", "top.csv"))


def _write_backlog(words, d: str, files: int, per_file: int, prefix: str) -> int:
    stage = os.path.join(os.path.dirname(d), "stage")
    for i in range(files):
        datagen.write_word_file(words.draw(per_file), stage, os.path.join(d, f"{prefix}-{i:05d}.txt"))
    return files * per_file


def _drain(pipe: Pipeline, ckpt: str, sink: str = "topk") -> float:
    """Drain everything in the watched directory; seconds from start to
    termination."""
    t = time.perf_counter()
    q = pipe.writer(ckpt, sink).trigger(availableNow=True).start()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return time.perf_counter() - t


def drain_rate(spark, run: Run, pipe: Pipeline) -> float:
    """Phase (a): the median drain rate in events/s. Leaves the last
    drain's checkpoint at ``ckpt/main``."""
    d = os.path.join(run.work, "wc")
    warm_words = datagen.ZipfWords(datagen.vocabulary(VOCAB), ZIPF_S, run.seed + 7)
    _write_backlog(warm_words, os.path.join(d, "warm"), 8, BACKLOG_FILE_EVENTS, "w")
    warm = Pipeline(spark, os.path.join(d, "warm"), os.path.join(d, "out", "warm.csv"))
    _drain(warm, os.path.join(d, "ckpt", "warm"))
    run.phase("warm-up drains done")
    rates = []
    n = BACKLOG_FILES * BACKLOG_FILE_EVENTS
    drains = WARM_DRAINS + (1 if run.opts.get("single_drain") else DRAINS)
    for i in range(drains):
        ckpt = os.path.join(d, "ckpt", "main" if i == drains - 1 else f"drain{i}")
        with run.tracer.span("stream.drain"):
            rate = n / _drain(pipe, ckpt)
        if i >= WARM_DRAINS:
            rates.append(rate)
    run.phase("drains done")
    run.note("drain events/s: " + ", ".join(f"{r:.0f}" for r in rates))
    return float(np.median(rates))


def run_workload(spark, run: Run, _inputs, pipe: Pipeline) -> None:
    d = os.path.join(run.work, "wc")
    words = datagen.ZipfWords(datagen.vocabulary(VOCAB), ZIPF_S, run.seed)
    backlog = _write_backlog(words, os.path.join(d, "backlog"), BACKLOG_FILES,
                             BACKLOG_FILE_EVENTS, "b")
    events: list[dict] = []
    listener = _progress_listener(events)
    spark.streams.addListener(listener)
    try:
        drain = drain_rate(spark, run, pipe)
        run.metric("throughput_per_s", drain, "1/s")
        run.alias("stream_drain_events_per_s", drain, "events/s")
        if run.opts.get("drain_only"):
            return
        rate = run.opts.get("stream_events_per_s")
        if not rate:
            raise SystemExit("wordcount_stream: pass --stream-events-per-s "
                             "(BENCHMARK.json's command has the standard rate)")
        if run.tracer.enabled:
            _trace_sink_cost(run, pipe, events)
        _open_loop(spark, run, pipe, words, rate, backlog, events)
    finally:
        spark.streams.removeListener(listener)


def _trace_sink_cost(run: Run, pipe: Pipeline, events: list[dict]) -> None:
    """sinks.topk_publish_ms: ``addBatch`` of the top-k sink minus that
    of a noop sink draining the same backlog from fresh checkpoints;
    the median over three back-to-back pairs."""
    d = os.path.join(run.work, "wc", "ckpt")
    diffs = []
    for i in range(3):
        add = {}
        for sink in ("noop", "topk"):
            n0 = len(events)
            _drain(pipe, os.path.join(d, f"sink-{sink}-{i}"), sink)
            _wait_events(events, n0 + 1)
            add[sink] = sum(e["durationMs"].get("addBatch", 0) for e in events[n0:])
        diffs.append(add["topk"] - add["noop"])
    run.layer_metric("sinks.topk_publish_ms", float(np.median(diffs)), "ms")


def _wait_events(events: list[dict], n: int, timeout: float = 10.0) -> None:
    end = time.time() + timeout
    while len(events) < n and time.time() < end:
        time.sleep(0.01)


def _open_loop(spark, run: Run, pipe: Pipeline, words, rate: int, backlog: int,
               events: list[dict]) -> None:
    d = os.path.join(run.work, "wc")
    ckpt = os.path.join(d, "ckpt", "main")
    watcher = PublishWatcher(pipe.out_file).start()
    q = pipe.writer(ckpt).start()
    gen = OpenLoopGenerator(words, os.path.join(d, "backlog"), os.path.join(d, "stage"),
                            rate, TICK_S, run.seconds, run.tracer)
    try:
        gen.start().join()
        if gen.error is not None:
            raise gen.error
        total = backlog + gen.per_file * len(gen.files)
        # every generated file read by some batch, then that batch's
        # progress reported
        end = time.time() + 60
        while time.time() < end and q.exception() is None:
            fb = _file_batches(ckpt)
            if all(p in fb for p, _, _ in gen.files):
                last = max(fb[p] for p, _, _ in gen.files)
                if any(e["batchId"] >= last for e in events if e["runId"] == str(q.runId)):
                    break
            time.sleep(0.05)
    finally:
        q.stop()
        watcher.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    run.phase("open loop drained")
    run.layer_metric("generator.late_ms_max", gen.late_max * 1e3, "ms")
    batches = {e["batchId"]: e for e in events if e["runId"] == str(q.runId)}
    publish_of = _publish_times(batches, watcher.publishes)
    _latency(run, gen, publish_of, _file_batches(ckpt))
    _layer_from_progress(run, batches, gen, publish_of)
    _check_counts(spark, run, words, ckpt, pipe.out_file, events, total)


def _publish_times(batches: dict[int, dict], publishes: list[float]) -> dict[int, float]:
    """batch id → when its top-k publish completed: the last publish seen
    inside the batch's trigger interval."""
    pub = sorted(publishes)
    out: dict[int, float] = {}
    for b, e in batches.items():
        start = _iso_to_epoch(e["timestamp"])
        end = start + e["durationMs"]["triggerExecution"] / 1e3
        inside = [p for p in pub if start - 0.005 <= p <= end + 0.005]
        if inside:
            out[b] = inside[-1]
    return out


def _latency(run: Run, gen: OpenLoopGenerator, publish_of: dict[int, float],
             file_batch: dict[str, int]) -> None:
    lat, weights, missing = [], [], 0
    for path, due, n in gen.files:
        b = file_batch.get(path)
        if b is None or b not in publish_of:
            missing += n
            continue
        lat.append((publish_of[b] - due) * 1e3)
        weights.append(n)
    run.attempted += sum(n for _, _, n in gen.files)
    run.failed += missing
    if missing:
        run.problems.append(f"{missing} open-loop events never reached a publish")
    if not lat:
        raise RuntimeError("no open-loop event reached a publish")
    samples = np.repeat(np.array(lat), weights).tolist()
    run.metric("latency_p50_ms", quantile(samples, 50), "ms")
    run.metric("latency_p90_ms", quantile(samples, 90), "ms")
    run.alias("stream_latency_p50_ms", quantile(samples, 50), "ms")
    run.alias("stream_latency_p90_ms", quantile(samples, 90), "ms")
    run.note(f"latency samples: {len(samples)} events in {len(lat)} files")


def _layer_from_progress(run: Run, batches: dict[int, dict], gen: OpenLoopGenerator,
                         publish_of: dict[int, float]) -> None:
    """Per-batch layer metrics rebuilt from StreamingQueryProgress, and
    the matching spans: trigger → its phases, and inside ``addBatch``
    the top-k publish (ending at the publish time, lasting
    ``sinks.topk_publish_ms``)."""
    if not batches:
        return
    rows = list(batches.values())
    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
    dur = lambda k: med([e["durationMs"].get(k, 0) for e in rows])  # noqa: E731
    op = lambda k: [e["stateOperators"][0][k] for e in rows if e["stateOperators"]]  # noqa: E731
    run.layer_metric("sources.latest_offset_ms", dur("latestOffset"), "ms")
    run.layer_metric("sources.get_batch_ms", dur("getBatch"), "ms")
    run.layer_metric("bolt.add_batch_ms", dur("addBatch"), "ms")
    run.layer_metric("bolt.state_commit_ms", med(op("commitTimeMs")), "ms")
    run.layer_metric("bolt.state_rows_total", max(op("numRowsTotal") or [0]), "count")
    run.layer_metric("bolt.state_rows_updated", med(op("numRowsUpdated")), "count")
    run.layer_metric("bolt.state_memory_bytes", max(op("memoryUsedBytes") or [0]), "bytes")
    run.layer_metric("stream.query_planning_ms", dur("queryPlanning"), "ms")
    run.layer_metric("stream.wal_commit_ms", dur("walCommit"), "ms")
    run.layer_metric("stream.commit_offsets_ms", dur("commitOffsets"), "ms")
    run.layer_metric("stream.trigger_ms", dur("triggerExecution"), "ms")
    run.layer_metric("stream.rows_per_batch", med([e["numInputRows"] for e in rows]), "count")
    run.layer_metric("stream.batches", len(rows), "count")
    # backlog at each trigger start: events scheduled by then, minus
    # events already taken by earlier batches
    taken, backlog_max = 0, 0
    for e in sorted(rows, key=lambda e: e["batchId"]):
        start = _iso_to_epoch(e["timestamp"])
        due = sum(n for _, s, n in gen.files if s <= start)
        backlog_max = max(backlog_max, due - taken)
        taken += e["numInputRows"]
    run.layer_metric("sources.backlog_events_max", backlog_max, "count")
    if run.tracer.enabled:
        publish_ms = max(0.0, run.layer.get("sinks.topk_publish_ms", (0.0, ""))[0])
        # phases in MicroBatchExecution order; rebuilt as child spans
        order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets")
        layer = {"latestOffset": "sources", "getBatch": "sources", "addBatch": "bolt",
                 "walCommit": "stream", "queryPlanning": "stream", "commitOffsets": "stream"}
        for e in rows:
            start = _iso_to_epoch(e["timestamp"])
            tid = f"batch-{e['batchId']}"
            root = run.tracer.add("stream.trigger", start,
                                  start + e["durationMs"]["triggerExecution"] / 1e3, trace=tid)
            t = start
            for k in order:
                ms = e["durationMs"].get(k, 0)
                sid = run.tracer.add(f"{layer[k]}.{k}", t, t + ms / 1e3, parent=root, trace=tid)
                t += ms / 1e3
                if k == "addBatch" and e["batchId"] in publish_of:
                    end = publish_of[e["batchId"]]
                    run.tracer.add("sinks.publish", end - publish_ms / 1e3, end, parent=sid,
                                   trace=tid)


def _check_counts(spark, run: Run, words: datagen.ZipfWords, ckpt: str, out_file: str,
                  events: list[dict], total: int) -> None:
    """The published top-20 and the bolt's final state must equal the
    generator's exact counts; observe_stream's row counts must add up."""
    expect = words.as_dict()
    state = {
        r["line"]: r["count"]
        for r in spark.read.format("statestore").load(ckpt).select("key.line", "value.count")
        .collect()
    }
    wrong = {w for w in expect.keys() | state.keys() if expect.get(w) != state.get(w)}
    with open(out_file) as f:
        published = [(w, int(c)) for w, c in (ln.rstrip("\n").rsplit(",", 1) for ln in f)]
    top = words.top(TOP_K)
    if published != top:
        wrong |= {w for w, _ in top} | {w for w, _ in published}
        run.problems.append("published top-20 differs from the exact top-20")
    if wrong:
        run.failed += sum(expect.get(w, 1) for w in wrong)
        run.problems.append(f"{len(wrong)} words with a wrong final count")
    with open(os.path.join(ckpt, "metadata")) as f:
        qid = json.load(f)["id"]
    main = [e for e in events if e["id"] == qid]
    observed = sum(e.get("observedMetrics", {}).get("wc_in", {}).get("rows", 0) for e in main)
    if observed != total or sum(e["numInputRows"] for e in main) != total:
        run.failed += abs(total - observed) or 1
        run.problems.append(f"observed {observed} input rows, generated {total}")


def baseline_1core(run: Run) -> float:
    """Drain the same backlog at local[1] in a separate process."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", "wordcount_stream", "--seed", str(run.seed), "--seconds",
           str(run.seconds), "--trace", "0", "--cores", "1", "--drain-only"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res["metrics"]["throughput_per_s"]["value"]
