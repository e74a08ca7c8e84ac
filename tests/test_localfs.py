"""The in-process ``file://`` filesystem that ``build_spark`` installs
(``hailstorm_spark/jvm``) and the session factory's reuse rule.

The claims these pin:
- an engine session resolves ``file://`` to the shim for both
  ``FileSystem`` and ``FileContext``;
- the shim's answers are the stock ``LocalFileSystem``'s: file modes,
  ``.crc`` files, link status (links, plain paths, missing paths) and
  ``FileContext.rename(..., OVERWRITE)``;
- a warm fold step and a warm streaming trigger start no process (the
  stock filesystem forks ``chmod`` per created file and directory and
  ``readlink`` per rename: about 57 processes per 16-bucket fold);
- the committed jar is what its committed source compiles to;
- ``build_spark`` returns a live session without touching its confs;
- a built session captures no PySpark call sites, unless ``extra_conf``
  turns the capture back on.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from hailstorm_spark.session import _LOCALFS_JAR, build_spark, session_conf
from hailstorm_spark.streaming.bolt import streaming_word_counts
from hailstorm_spark.streaming.sinks import topk_file_sink
from hailstorm_spark.streaming.sources import file_lines_stream
from hailstorm_spark.streaming.statefold import bucketed_monoid_fold

BUILD = os.path.join(os.path.dirname(_LOCALFS_JAR), "build.sh")


def _hpath(spark, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _shim_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())


def _stock_fs(spark):
    """Hadoop's own checksummed LocalFileSystem over a stock
    RawLocalFileSystem, uncached."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    return fs


def _mode(p) -> int:
    return stat.S_IMODE(os.lstat(p).st_mode)


def test_engine_session_serves_file_scheme_with_the_shim(spark):
    jvm = spark._jvm
    fs = _shim_fs(spark)
    assert fs.getClass().getName() == "hailstorm.fs.LocalFileSystem"
    assert fs.getRawFileSystem().getClass().getName() == "hailstorm.fs.LocalFileSystem$Raw"
    # what the streaming checkpoint and state-store file managers resolve
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "hailstorm.fs.LocalFs"


def test_fold_files_get_the_stock_modes(spark, tmp_path):
    d = tmp_path / "state"
    fold = bucketed_monoid_fold(str(d), key="k", cols={"s": "sum"}, n_buckets=4)
    fold(spark.range(64).select(F.col("id").alias("k"), F.lit(1).alias("s")), 0)
    bucket = next(p for p in sorted(d.iterdir()) if p.name.startswith("bucket="))
    seg = next(p for p in sorted(bucket.iterdir()) if not p.name.startswith((".", "_")))
    crc = bucket / f".{seg.name}.crc"
    assert crc.exists()

    stock = _stock_fs(spark)
    ref_dir = tmp_path / "stock" / bucket.name
    assert stock.mkdirs(_hpath(spark, str(ref_dir)))
    stock.create(_hpath(spark, str(ref_dir / "seg")), True).close()
    assert (_mode(bucket), _mode(seg), _mode(crc)) == (
        _mode(ref_dir), _mode(ref_dir / "seg"), _mode(ref_dir / ".seg.crc"))


def test_set_permission_matches_stock(spark, tmp_path):
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    shim, stock = _shim_fs(spark), _stock_fs(spark)
    # "1777" and "1750" carry the sticky bit, which the shim hands to Hadoop
    for mode in ("600", "644", "755", "750", "000", "1777", "1750"):
        got = []
        for name, fs in (("shim", shim), ("stock", stock)):
            p = tmp_path / f"{name}-{mode}"
            fs.create(_hpath(spark, str(p)), True).close()
            fs.setPermission(_hpath(spark, str(p)), perm(mode))
            d = tmp_path / f"{name}-{mode}.d"
            fs.mkdirs(_hpath(spark, str(d)), perm(mode))
            got.append((_mode(p), _mode(d)))
        assert got[0] == got[1], mode
        assert got[0][0] == int(mode, 8), mode


def _link_status(spark, fs, p: str) -> str:
    """The link status as text, or the class of the exception raised."""
    try:
        return fs.getFileLinkStatus(_hpath(spark, p)).toString()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


def test_link_status_matches_stock(spark, tmp_path):
    shim, stock = _shim_fs(spark), _stock_fs(spark)
    target = tmp_path / "target.txt"
    target.write_text("x")
    (tmp_path / "dir").mkdir()
    os.symlink(target, tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    link = shim.getFileLinkStatus(_hpath(spark, str(tmp_path / "link")))
    assert link.isSymlink()
    assert link.getSymlink().toUri().getPath() == str(target)
    missing = str(tmp_path / "missing")
    assert _link_status(spark, shim, missing) == "java.io.FileNotFoundException"
    for name in ("target.txt", "dir", "link", "dangling", "missing"):
        for p in (str(tmp_path / name), f"file:{tmp_path / name}"):
            assert _link_status(spark, shim, p) == _link_status(spark, stock, p), p


def test_file_context_rename_overwrite_replaces_the_target(spark, tmp_path):
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    shim = _shim_fs(spark)
    src, dst = tmp_path / "src", tmp_path / "dst"
    for p, body in ((src, b"new contents"), (dst, b"old")):
        out = shim.create(_hpath(spark, str(p)), True)
        out.write(bytearray(body))
        out.close()
    opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(_hpath(spark, str(src)), _hpath(spark, str(dst)), opts)
    assert not src.exists() and not (tmp_path / ".src.crc").exists()
    assert dst.read_bytes() == b"new contents"
    assert (tmp_path / ".dst.crc").exists()
    # the checksum moved with the data: a verified read succeeds
    inp = shim.open(_hpath(spark, str(dst)))
    buf = gw.new_array(jvm.byte, 32)
    assert inp.read(buf) == len(b"new contents")
    inp.close()


def _process_starts(spark, tmp_path, step, repeats: int = 3) -> list[int]:
    """Processes the driver JVM starts during each of ``repeats`` calls
    of ``step``, from JFR ``jdk.ProcessStart`` events. (The kernel's
    ``processes`` count in /proc/stat also counts threads: a fold step
    creates about 25.)"""
    jvm = spark._jvm
    counts = []
    for i in range(repeats):
        rec = jvm.jdk.jfr.Recording()
        rec.enable("jdk.ProcessStart")
        rec.start()
        try:
            step(i)
        finally:
            rec.stop()
        path = jvm.java.io.File(str(tmp_path / f"starts-{i}.jfr")).toPath()
        rec.dump(path)
        rec.close()
        counts.append(jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path).size())
    return counts


def test_warm_fold_step_and_trigger_start_no_process(spark, tmp_path):
    fold = bucketed_monoid_fold(str(tmp_path / "state"), key="k", cols={"s": "sum"})

    def batch(i):
        return spark.range(4000).select(((F.col("id") * 7 + i) % 3000).alias("k"),
                                        F.lit(1).alias("s"))

    fold(batch(0), 0)
    batches = [batch(i + 1) for i in range(3)]
    starts = _process_starts(spark, tmp_path, lambda i: fold(batches[i], i + 1))
    assert min(starts) <= 1, f"processes started per fold step: {starts}"

    words, stage = tmp_path / "words", tmp_path / "stage"
    words.mkdir()
    stage.mkdir()

    def publish(i):
        (stage / f"w{i}.txt").write_text("\n".join(f"w{(i * 31 + j) % 97}" for j in range(500)))
        os.rename(stage / f"w{i}.txt", words / f"w{i}.txt")

    counts = streaming_word_counts(file_lines_stream(spark, str(words)), word_col="line")
    q = topk_file_sink(counts, str(tmp_path / "top.csv"), str(tmp_path / "ckpt"),
                       k=5, key_col="line").start()
    try:
        publish(0)
        q.processAllAvailable()

        def trigger(i):
            publish(i + 1)
            q.processAllAvailable()

        starts = _process_starts(spark, tmp_path, trigger)
        assert q.lastProgress["batchId"] >= 3
    finally:
        q.stop()
    assert min(starts) <= 1, f"processes started per trigger: {starts}"


def test_jar_is_built_from_the_committed_source(tmp_path):
    if shutil.which("javac") is None or shutil.which("jar") is None:
        pytest.skip("no JDK compiler on PATH")
    subprocess.run(["sh", BUILD, str(tmp_path)], check=True, capture_output=True)
    with zipfile.ZipFile(_LOCALFS_JAR) as a, zipfile.ZipFile(tmp_path / "hailstorm-localfs.jar") as b:
        assert a.namelist() == b.namelist()
        for name in a.namelist():
            assert a.read(name) == b.read(name), name


def test_build_spark_leaves_a_live_session_alone(spark):
    want = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.session.timeZone": "America/New_York",
    }
    before = {k: spark.conf.get(k) for k in want}
    try:
        for k, v in want.items():
            spark.conf.set(k, v)
        assert build_spark(shuffle_partitions=3) is spark
        assert {k: spark.conf.get(k) for k in want} == want
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_built_sessions_capture_no_call_sites(spark):
    flag = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(flag) == "false"
    assert session_conf()[flag] == "false"
    assert session_conf(extra_conf={flag: "true"})[flag] == "true"
