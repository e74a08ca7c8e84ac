"""SparkSession factory with scale-oriented defaults.

The reference engine has no tunables beyond static parallelism
(reference src/Hailstorm/Processor.hs:68-70). Here the equivalents are
shuffle partitions / AQE, set once at session build time so every
operator in the library inherits them.

Defaults are chosen for the 100 TB design point and scale down to
local[32] tests:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any hand-tuning per query.
- shuffle.partitions: on a real cluster this should be ~2-3x total
  executor cores (or left to AQE's coalescing from a high initial
  number); locally we default to the core count.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- Session timezone UTC: deterministic date/timestamp semantics that
  match the DuckDB oracle used by the test harness.

Local file writes without forked processes. Without the native Hadoop
library, Hadoop's ``RawLocalFileSystem`` forks ``chmod`` for every
file and directory it creates and ``readlink`` twice for every
``FileContext.rename``: about 4 ms each, and every streaming checkpoint
file, state changelog and keyed-state segment pays them. For
``local[...]`` masters ``build_spark`` serves ``file://`` with the
shim in ``jvm/`` (``hailstorm.fs.LocalFileSystem`` for ``FileSystem``,
``hailstorm.fs.LocalFs`` for ``FileContext``). It is Hadoop's
checksummed local filesystem with two calls made in-process:
``setPermission`` sets the nine rwx bits through java.nio (other bits
go to Hadoop), and ``getFileLinkStatus`` returns ``getFileStatus`` for
a path that is not a symlink, as the stock call does after its
``readlink``. Checksums, modes and errors are unchanged. The shim is
installed only in a JVM whose class path has its jar: one that
``build_spark`` launches (the jar is appended to
``spark.driver.extraClassPath``), or a running one where the class
already loads, for example after ``spark.stop()``. A live session, a
JVM started by someone else and non-local masters keep the stock
filesystem. ``jvm/build.sh`` rebuilds the jar from its source.

PySpark call sites are not captured. PySpark 4.1 wraps every
``pyspark.sql.functions`` call so that an error can name the Python
line that built the failing expression: about 8 Py4J round trips per
call (the active session, ``PySparkCurrentOrigin`` set and clear, a
conf read). ``build_spark`` sets
``spark.python.sql.dataFrameDebugging.enabled`` to false, which cut
the Py4J calls to build a warm pass of ``analytics_batch``'s eight
queries at sf0.01 from 5,301 to 2,634 (``q1_pricing_summary`` 853 to
191). The cost is that error messages lose the Python call site. A
caller can turn it back on with ``extra_conf``. PySpark reads the flag
once per process, at the first function call made with an active
session, and keeps it for the life of the process.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                            "hailstorm-localfs.jar")
_LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "hailstorm.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "hailstorm.fs.LocalFs",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _install_local_fs(conf: dict[str, str]) -> None:
    """Add the in-process ``file://`` filesystem to ``conf`` if its class
    loads in the JVM; launch the JVM first, with the jar on its class
    path, if none runs yet."""
    if SparkContext._gateway is None:
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = cp + os.pathsep + _LOCALFS_JAR if cp else _LOCALFS_JAR
        # the same confs getOrCreate would launch it with
        SparkContext._ensure_initialized(conf=SparkConf().setAll(list(conf.items())))
    try:
        SparkContext._jvm.java.lang.Class.forName(_LOCALFS_CONF["spark.hadoop.fs.file.impl"])
    except Py4JJavaError:  # a JVM without the jar: keep the stock filesystem
        return
    for k, v in _LOCALFS_CONF.items():
        conf.setdefault(k, v)


def session_conf(
    app_name: str = "hailstorm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs ``build_spark`` builds a new session with: the engine's
    defaults, then ``extra_conf`` over them."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{_default_parallelism()}]"
    shuffle = shuffle_partitions or _default_parallelism()
    return {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # The synthetic events table stores TIMESTAMP(NANOS) parquet,
        # which Spark's vectorized reader rejects; read as long nanos
        # and convert explicitly in io.load_table (truncation to µs,
        # matching DuckDB's nanosecond handling).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Streaming state at 100 TB belongs in RocksDB, not the JVM heap.
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # Local runs: keep the UI off and the driver quiet.
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # no Python call-site capture per function call (module docstring)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **(extra_conf or {}),
    }


def build_spark(
    app_name: str = "hailstorm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults
    (:func:`session_conf`), or return the live one untouched: a session
    configured elsewhere keeps its confs.
    """
    live = SparkSession._instantiatedSession  # what getOrCreate would return
    if live is not None and live._sc._jsc is not None:
        return live
    conf = session_conf(app_name, master, shuffle_partitions, extra_conf)
    # local-cluster executors are JVMs of their own, without the jar
    if conf["spark.master"] == "local" or conf["spark.master"].startswith("local["):
        _install_local_fs(conf)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def pinned_confs(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session for the block, then give each key
    back exactly what it had: its old value, or no value if it was unset
    (setting a default back explicitly would still change what a later
    ``conf.get`` returns). Session-global, not thread-local: overlapping
    blocks are race-free only when they pin the same values."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
