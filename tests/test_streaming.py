"""Streaming parity tests: the word-count topology on Structured
Streaming, exactly-once restart semantics, custom stateful bolts.

These reproduce the reference's manual validation (SURVEY §5) as
deterministic pytest cases: word files → count bolt → top-k sink,
with restart-from-checkpoint equivalence (ST5/ST7).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming.bolt import streaming_word_counts
from hailstorm_spark.streaming.sinks import topk_file_sink, topk_memory_sink
from hailstorm_spark.streaming.sources import file_lines_stream

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
]


def _write_word_files(dirpath: str, n_files: int, lines_per_file: int, start: int = 0):
    """Deterministic word files: line k (global) = VOCAB[(7k+3) % |V|]."""
    os.makedirs(dirpath, exist_ok=True)
    counts: dict[str, int] = {}
    for fi in range(n_files):
        lines = []
        for li in range(lines_per_file):
            k = start + fi * lines_per_file + li
            w = VOCAB[(7 * k + 3) % len(VOCAB)]
            counts[w] = counts.get(w, 0) + 1
            lines.append(w)
        with open(os.path.join(dirpath, f"part-{start + fi:05d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return counts


def _run_counts_to_memory(spark, words_dir, checkpoint, name, max_files=None):
    words = file_lines_stream(spark, words_dir, max_files_per_trigger=max_files)
    counts = streaming_word_counts(words.select(F.col("line").alias("word")))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r.word: r.cnt for r in spark.table(name).collect()}


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    words_dir = str(tmp_path / "words")
    expected = _write_word_files(words_dir, n_files=4, lines_per_file=250)
    name = f"wc_{uuid.uuid4().hex[:8]}"
    got = _run_counts_to_memory(
        spark, words_dir, str(tmp_path / "ckpt"), name, max_files=1
    )
    assert got == expected


def test_exactly_once_across_restart(spark, tmp_path):
    """Stop after a prefix, add more data, restart from the same
    checkpoint: every record counted exactly once (reference ST5/ST7,
    Negotiator.hs:41-49 rewind + paper hailstorm.tex:77-84)."""
    words_dir = str(tmp_path / "words")
    ckpt = str(tmp_path / "ckpt")
    c1 = _write_word_files(words_dir, n_files=3, lines_per_file=100, start=0)
    name1 = f"wc_{uuid.uuid4().hex[:8]}"
    got1 = _run_counts_to_memory(spark, words_dir, ckpt, name1, max_files=1)
    assert got1 == c1

    # more files arrive while the query is down
    c2 = _write_word_files(words_dir, n_files=2, lines_per_file=100, start=3)
    expected = {w: c1.get(w, 0) + c2.get(w, 0) for w in set(c1) | set(c2)}
    name2 = f"wc_{uuid.uuid4().hex[:8]}"
    got2 = _run_counts_to_memory(spark, words_dir, ckpt, name2, max_files=1)
    assert got2 == expected  # old files not recounted, new ones counted once


def test_topk_file_sink_reference_parity(spark, tmp_path):
    """The complete topology: source → count bolt → top-20 file sink
    (reference output top_words.txt, WordCountSample.hs:29-30)."""
    words_dir = str(tmp_path / "words")
    expected = _write_word_files(words_dir, n_files=2, lines_per_file=300)
    out = str(tmp_path / "top_words.txt")
    words = file_lines_stream(spark, words_dir)
    counts = streaming_word_counts(words.select(F.col("line").alias("word")))
    q = (
        topk_file_sink(counts, out, str(tmp_path / "ckpt"), k=5)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lines = open(out).read().strip().splitlines()
    golden = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert lines == [f"{w},{c}" for w, c in golden]


def test_event_time_tumbling_window(spark, tmp_path):
    """Additive event-time surface (reference ST8 is absent): tumbling
    1-minute windows with a watermark; final per-window counts match
    the batch answer."""
    import json

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    rows = []
    for k in range(600):
        ts = f"2024-01-01 00:{k // 60:02d}:{k % 60:02d}"
        rows.append({"ts": ts, "word": VOCAB[k % 5]})
    with open(os.path.join(events_dir, "data.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("ts timestamp, word string")
        .json(events_dir)
        .withWatermark("ts", "2 minutes")
    )
    windowed = stream.groupBy(
        F.window("ts", "1 minute").alias("win"), "word"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        windowed.select(F.col("win.start").alias("start"), "word", "cnt")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(str(r.start), r.word): r.cnt for r in spark.table(name).collect()}
    # batch golden: 10 windows x 5 words x 12 each
    assert len(got) == 50
    assert all(v == 12 for v in got.values())


def test_stateful_bolt_custom_monoid(spark, tmp_path):
    """applyInPandasWithState bolt with a hand-written monoid
    (count + max offset per key) — the reference's arbitrary-Dynamic
    state path (TransactionTypes.hs:12-13), Arrow-batched."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    words_dir = str(tmp_path / "words")
    expected = _write_word_files(words_dir, n_files=2, lines_per_file=100)

    words = file_lines_stream(spark, words_dir).select(F.col("line").alias("word"))

    def fn(key, pdf_iter, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"word": [key[0]], "cnt": [cnt]})

    out = words.groupBy("word").applyInPandasWithState(
        fn,
        outputStructType="word string, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"sb_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per key per batch; the final value per
    # key is the running total
    final = (
        spark.table(name)
        .groupBy("word")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    )
    assert {r.word: r.cnt for r in final} == expected


def test_exactly_once_json_dir_sink_restart(spark, tmp_path):
    """Distributed per-batch-directory sink: across a stop/restart every
    input line lands in the output exactly once (batch-id overwrite
    fencing), with no driver-side materialization."""
    from hailstorm_spark.streaming.sinks import exactly_once_json_dir_sink

    words_dir = str(tmp_path / "words")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    c1 = _write_word_files(words_dir, n_files=2, lines_per_file=50, start=0)

    def drain():
        lines = file_lines_stream(spark, words_dir, max_files_per_trigger=1)
        q = (
            exactly_once_json_dir_sink(lines, out_dir, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    c2 = _write_word_files(words_dir, n_files=2, lines_per_file=50, start=2)
    drain()

    got = (
        spark.read.json(out_dir + "/batch-*")
        .groupBy("line")
        .count()
        .collect()
    )
    expected = {w: c1.get(w, 0) + c2.get(w, 0) for w in set(c1) | set(c2)}
    assert {r.line: r["count"] for r in got} == expected


def test_append_mode_watermark_bounds_state(spark):
    """streaming_events_minutely runs in append mode: the watermark must
    EVICT closed windows from the state store, leaving only the open
    tail (the flush sentinel's window) — vs ~1000 emitted windows."""
    import tempfile as tf

    from hailstorm_spark.io import ensure_nanos_conf, normalize_events_ts, table_path
    from hailstorm_spark.queries.streaming_queries import (
        _events_stream_dir_with_flush,
    )
    from tests.conftest import SF_DIR

    ensure_nanos_conf(spark)
    schema = spark.read.parquet(table_path(SF_DIR, "events")).schema
    d = _events_stream_dir_with_flush(spark, SF_DIR, beyond_minutes=20)
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .transform(normalize_events_ts)
        .withWatermark("ts", "10 minutes")
    )
    windowed = stream.groupBy(
        F.window("ts", "1 minute").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        windowed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tf.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.table(name).count()
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert emitted > 100
    assert state_rows <= 5, f"state not evicted: {state_rows} rows retained"


def test_stream_stream_join_watermarked(spark, tmp_path):
    """Watermarked stream-stream inner join (SURVEY §7 step 4): clicks
    joined to impressions within a 10-minute event-time interval; the
    drained result equals the same join run in batch."""
    import json as js

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    os.makedirs(imp_dir), os.makedirs(clk_dir)
    imps, clks = [], []
    for k in range(200):
        imps.append({"ad": f"ad{k % 20}", "imp_ts": f"2024-01-01 00:{k // 10:02d}:{(k * 7) % 60:02d}"})
    for k in range(100):
        clks.append({"ad": f"ad{k % 20}", "clk_ts": f"2024-01-01 00:{k // 5:02d}:{(k * 11) % 60:02d}"})
    with open(imp_dir + "/d.json", "w") as f:
        f.write("\n".join(js.dumps(r) for r in imps))
    with open(clk_dir + "/d.json", "w") as f:
        f.write("\n".join(js.dumps(r) for r in clks))

    def streams():
        si = (
            spark.readStream.schema("ad string, imp_ts timestamp")
            .json(imp_dir)
            .withWatermark("imp_ts", "5 minutes")
        )
        sc = (
            spark.readStream.schema("ad string, clk_ts timestamp")
            .json(clk_dir)
            .withWatermark("clk_ts", "5 minutes")
        )
        return si, sc

    cond = (
        "ad = c_ad AND clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 10 minutes"
    )
    si, sc = streams()
    joined = si.join(
        sc.withColumnRenamed("ad", "c_ad"), F.expr(cond), "inner"
    ).select("ad", "imp_ts", "clk_ts")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {(r.ad, str(r.imp_ts), str(r.clk_ts)) for r in spark.table(name).collect()}

    bi = spark.read.schema("ad string, imp_ts timestamp").json(imp_dir)
    bc = spark.read.schema("ad string, clk_ts timestamp").json(clk_dir)
    expected = {
        (r.ad, str(r.imp_ts), str(r.clk_ts))
        for r in bi.join(bc.withColumnRenamed("ad", "c_ad"), F.expr(cond), "inner")
        .select("ad", "imp_ts", "clk_ts")
        .collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_kafka_source_and_emitter_surface(spark):
    """No broker in the sandbox: check what is checkable. The payload
    projection (emitter contract: binary key/value) runs in batch; the
    source builder must either analyze (connector present) or fail with
    the data-source-missing error, never a builder bug."""
    from hailstorm_spark.streaming.sources import kafka_payload, kafka_words_stream

    words = spark.createDataFrame([("alpha",), ("bravo",)], "word string")
    payload = kafka_payload(words, value_col="word", key_col="word")
    assert [f.dataType.simpleString() for f in payload.schema.fields] == ["binary", "binary"]
    assert [f.name for f in payload.schema.fields] == ["key", "value"]
    assert payload.count() == 2

    try:
        df = kafka_words_stream(spark, "localhost:9092", "words")
        # connector present: the projection must expose the spout contract
        assert {"word", "partition", "offset", "ts"} <= set(df.columns)
    except Exception as e:  # noqa: BLE001
        assert "kafka" in str(e).lower(), f"unexpected failure class: {e}"
        pytest.skip("spark-sql-kafka connector not bundled in this environment")


def test_db_upsert_sink_exactly_once(spark, tmp_path):
    """K3 database sink: streamed word counts land in a DuckDB table,
    and a replayed batch_id (the at-least-once case foreachBatch must
    tolerate) is fenced to a single application."""
    import duckdb

    from hailstorm_spark.streaming.sinks import db_upsert_sink, make_db_batch_writer

    db_path = str(tmp_path / "sink.duckdb")
    con = duckdb.connect(db_path)
    con.execute("CREATE TABLE word_counts (word VARCHAR, cnt BIGINT)")
    con.close()
    connect = lambda: duckdb.connect(db_path)  # noqa: E731

    words_dir = str(tmp_path / "words")
    expected = _write_word_files(words_dir, n_files=3, lines_per_file=40)
    words = file_lines_stream(spark, words_dir)
    counts = streaming_word_counts(words.select(F.col("line").alias("word")))
    q = (
        db_upsert_sink(
            counts, connect, "word_counts", ("word",), ("cnt",),
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    con = duckdb.connect(db_path)
    got = dict(con.execute("SELECT word, cnt FROM word_counts").fetchall())
    assert got == expected

    # fencing: replay an already-applied batch_id with conflicting data
    writer = make_db_batch_writer(connect, "word_counts", ("word",), ("cnt",))
    bogus = spark.createDataFrame([("alpha", 10_000)], "word string, cnt long")
    applied = con.execute("SELECT batch_id FROM word_counts__batches").fetchall()
    con.close()
    assert applied, "stream should have recorded at least one batch id"
    writer(bogus, int(applied[0][0]))  # same id -> must be a no-op
    con = duckdb.connect(db_path)
    assert dict(con.execute("SELECT word, cnt FROM word_counts").fetchall()) == expected
    # and a NEW batch id applies (upsert, not append)
    con.close()
    writer(bogus, 10_999)
    con = duckdb.connect(db_path)
    assert con.execute(
        "SELECT cnt FROM word_counts WHERE word = 'alpha'"
    ).fetchone()[0] == 10_000
    con.close()


def test_console_sink_builds_and_runs(spark, tmp_path):
    """K3 console sink: builds on a streaming DF and drains a bounded
    input without error (output goes to stdout by design)."""
    from hailstorm_spark.streaming.sinks import console_sink

    words_dir = str(tmp_path / "words")
    _write_word_files(words_dir, n_files=1, lines_per_file=10)
    words = file_lines_stream(spark, words_dir)
    counts = streaming_word_counts(words.select(F.col("line").alias("word")))
    q = (
        console_sink(counts, output_mode="complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_dedup_within_watermark_evicts_state(spark, tmp_path):
    """Watermarked streaming dedup: duplicates within the delay are
    dropped, and key state is evicted once the watermark passes — the
    eviction is observable in the output (a late re-send of an evicted
    key is emitted again)."""
    from hailstorm_spark.streaming.bolt import streaming_exact_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    with open(src + "/f0.csv", "w") as f:
        f.write("2024-01-01T00:00:00,a\n2024-01-01T00:00:30,a\n2024-01-01T00:01:00,b\n")
    schema = "ts timestamp, k string"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).csv(src)
    deduped = streaming_exact_dedup(stream, ["k"], event_time="ts", delay="5 minutes")

    def drain():
        q = (
            deduped.writeStream.outputMode("append")
            .format("json")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    rows = spark.read.schema(schema).json(out).collect()
    assert sorted(r.k for r in rows) == ["a", "b"]  # in-window dup of 'a' dropped

    # much-later events advance the watermark past the old keys'
    # expiry; state eviction runs at the END of a batch, so the drains
    # are split to pin batch boundaries (in-batch file order is not
    # name-deterministic). After the eviction drain, a re-send of 'a'
    # must be emitted again — eviction observable in the output.
    with open(src + "/f1.csv", "w") as f:
        f.write("2024-01-01T01:00:00,c\n")
    with open(src + "/f2.csv", "w") as f:
        f.write("2024-01-01T02:00:00,d\n")
    drain()
    with open(src + "/f3.csv", "w") as f:
        f.write("2024-01-01T02:00:05,a\n")
    drain()
    rows = spark.read.schema(schema).json(out).collect()
    assert sorted(r.k for r in rows) == ["a", "a", "b", "c", "d"]


def test_cyclic_file_lines_stream_replays_in_order(spark, tmp_path):
    """S2 parity: the cyclic source emits the file's lines in order,
    wrapping at EOF with a never-resetting offset (FileSource.hs:43-52)."""
    from hailstorm_spark.streaming.sources import cyclic_file_lines_stream

    path = str(tmp_path / "input.txt")
    lines = [f"line-{i}" for i in range(7)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")

    stream = cyclic_file_lines_stream(spark, path, rows_per_second=500)
    name = "cyclic_sink"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if len(rows) >= 20:  # ~3 full cycles
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted(spark.table(name).collect(), key=lambda r: r.offset)
    assert len(rows) >= 20
    # offsets are the contiguous prefix 0..n-1 and every line matches
    # its cyclic position — order, wrap, and offset monotonicity at once
    assert [r.offset for r in rows] == list(range(len(rows)))
    assert all(r.line == lines[r.offset % 7] for r in rows)


def test_transform_with_state_bolt(spark, tmp_path):
    """Reference A1 count bolt on the transformWithState API (capability
    -gated: its Python runner needs google.protobuf at runtime)."""
    import pytest

    from hailstorm_spark.streaming.bolt import (
        transform_with_state_counts,
        tws_available,
    )

    if not tws_available():
        # surface must still build a valid streaming plan
        srcdir = str(tmp_path / "src")
        spark.createDataFrame([("a",), ("b",)], ["word"]).write.parquet(srcdir)
        stream = spark.readStream.schema("word string").parquet(srcdir)
        out = transform_with_state_counts(stream)
        assert out.isStreaming and set(out.columns) == {"word", "cnt"}
        pytest.skip("google.protobuf not installed; runner cannot start")

    srcdir = str(tmp_path / "src")
    spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("a",)], ["word"]
    ).coalesce(1).write.parquet(srcdir)
    stream = spark.readStream.schema("word string").parquet(srcdir)
    out = transform_with_state_counts(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.word, r.cnt) for r in spark.table("tws_counts").collect()}
    assert got == {("a", 3), ("b", 1), ("c", 1)}


def test_watermark_drops_late_rows_and_accounts_them(spark, tmp_path):
    """Late-data policy, observable: rows older than the watermark are
    dropped by the aggregation and accounted in
    stateOperators.numRowsDroppedByWatermark.

    Two engine subtleties this test pins: (1) under availableNow the
    watermark lags one batch behind the progress report (batch N runs
    with the value derived from batches <= N-2), so the late file is
    staged two batches after the recent data; (2) the drop counter
    counts rows reaching the stateful operator AFTER map-side partial
    aggregation — 5 late events in one window count as 1 dropped row.
    """
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    d = str(tmp_path / "stream")
    os.makedirs(d)
    base = 1_700_000_000  # seconds
    files = {
        "a_recent.parquet": [(base + i * 60) * 1_000_000 for i in range(30)],
        "b_recent2.parquet": [
            (base + 1800 + i * 60) * 1_000_000 for i in range(5)
        ],
        "c_late.parquet": [(base - 3600 + i) * 1_000_000 for i in range(5)],
    }
    now = time.time()
    for i, (fname, stamps) in enumerate(files.items()):
        path = os.path.join(d, fname)
        pq.write_table(
            pa.table({"ts_us": pa.array(stamps, type=pa.int64())}), path
        )
        os.utime(path, (now - 60 + i * 10, now - 60 + i * 10))

    stream = (
        spark.readStream.schema("ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select(F.timestamp_micros("ts_us").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "late_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p_ in q.recentProgress
        for op in p_.get("stateOperators", [])
    )
    assert dropped >= 1, "late rows were not dropped by the watermark"
    # and the late window must never reach the sink
    late_start = base - 3600
    emitted = [
        r
        for r in spark.table(name).collect()
        if abs(r[0]["start"].timestamp() - late_start) < 61
    ]
    assert emitted == []


def test_topk_file_sink_quotes_hostile_words(spark, tmp_path):
    """Whitespace tokenization legally yields words carrying commas and
    double quotes ('comma,' is one token); the file sink must RFC
    4180-quote them so the word,count file round-trips through a CSV
    reader instead of shearing the row (round-9 fix: the bare f-string
    write nulled the count column on any such word)."""
    import os

    words_dir = str(tmp_path / "words")
    os.makedirs(words_dir)
    hostile = ['comma,word', 'quo"te', 'both",x', 'plain']
    with open(os.path.join(words_dir, "w.txt"), "w") as f:
        for i, w in enumerate(hostile):
            f.write((w + "\n") * (i + 2))
    from hailstorm_spark.streaming.sources import file_lines_stream

    words = file_lines_stream(spark, words_dir)
    counts = streaming_word_counts(words.select(F.col("line").alias("word")))
    out = str(tmp_path / "top_words.txt")
    q = (
        topk_file_sink(counts, out, str(tmp_path / "ckpt"), k=10)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["word"], r["cnt"])
        for r in spark.read.schema("word string, cnt bigint")
        .option("escape", '"').csv(out).collect()
    }
    assert got == {(w, i + 2) for i, w in enumerate(hostile)}


def test_bucketed_fold_exactly_once_across_restart(spark, tmp_path):
    """The bucketed keyed-state folds under a REAL checkpoint restart:
    drain the staged prefix to completion, stage more data while the
    query is down, and restart from the same checkpoint. The source
    must not re-deliver the committed batch (no double-add through the
    additive fold) and the per-bucket fence must hold if the engine
    ever does. Additive state is the sharpest detector: any replay or
    loss changes the sums."""
    import os as _os

    import pandas as pd

    from hailstorm_spark.streaming.statefold import (
        bucketed_monoid_fold,
        read_state,
    )

    stage = str(tmp_path / "stage")
    _os.makedirs(stage)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    pd.DataFrame({"user_id": [1, 2, 1], "one": [1, 1, 1], "cents": [10, 20, 30]}).to_parquet(
        stage + "/w0.parquet"
    )
    # epoch = the checkpoint identity: the SAME checkpoint resumes
    # cleanly across the restart below (the guard only rejects a
    # DIFFERENT epoch meeting standing state)
    fold = bucketed_monoid_fold(
        state_dir, key="user_id", cols={"one": "sum", "cents": "sum"}, n_buckets=4,
        epoch=ckpt,
    )

    def drain():
        q = (
            spark.readStream.schema("user_id long, one long, cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(lambda df, bid: fold(df, bid))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    assert {
        r["user_id"]: (r["one"], r["cents"])
        for r in read_state(spark, state_dir).collect()
    } == {1: (2, 40), 2: (1, 20)}

    # new data arrives while the query is down; restart from the same
    # checkpoint — the committed first file must not re-fold
    pd.DataFrame({"user_id": [1, 3], "one": [1, 1], "cents": [5, 7]}).to_parquet(
        stage + "/w1.parquet"
    )
    drain()
    assert {
        r["user_id"]: (r["one"], r["cents"])
        for r in read_state(spark, state_dir).collect()
    } == {1: (3, 45), 2: (1, 20), 3: (1, 7)}
