"""Table loading for the driver's synthetic star schema (TESTDATA.md).

One parquet file per table. At 100 TB each of these would be a
partitioned parquet/Delta dataset; ``spark.read.parquet`` on a directory
is the same code path, so nothing here changes at scale — column
pruning and predicate pushdown reach the scan automatically because
every query in this library projects/filters declaratively.

Schema map. A table file is a replayable log whose layout is fixed once
it is written, yet ``spark.read.parquet`` infers its schema again on
every read, and in Spark 4.1 that inference is one Spark job. This
module therefore remembers the schema Spark inferred for each local
regular file, keyed by the file's identity ``(path, st_ino,
st_mtime_ns, st_size)``, and later reads pass it back with
``spark.read.schema(...)``: no job, and still a fresh relation per call
(a self-join needs distinct attributes, so a DataFrame is never
shared). A rewrite — in place or tmp+rename — changes the identity and
the next read infers again. Directories, remote URIs and missing paths
bypass the map and read exactly as without it. The map is
process-wide and guarded by a lock; it holds one entry per path.

The map stores what Spark inferred, not the declared schemas in
FIXTURES.md, because ``events.ts`` has two on-disk encodings
(TIMESTAMP(NANOS), read as long under ``nanosAsLong``, and
TIMESTAMP_NTZ micros) and ``normalize_events_ts`` must see which one
the file holds. ``nanosAsLong`` is the only inference conf the package
relies on, and ``ensure_nanos_conf`` runs before every ``events`` read,
so a cached schema always agrees with the read that uses it.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor.
#: region/nation are fixed-size (5 / 25 rows at every SF, like TPC-H);
#: supplier/part grow with SF but stay far below lineitem/orders.
BROADCAST_DIMS = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Older driver testdata stored events.ts as parquet TIMESTAMP(NANOS),
    which Spark rejects by default. ``spark.sql.legacy.parquet.nanosAsLong``
    is a runtime SQL conf, so set it on whatever session we are handed — the
    driver's correctness harness passes its own externally-built SparkSession
    that never went through ``session.build_spark``. Harmless when the data
    is already micros."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP normalization below and every date/timestamp
    # function must agree with the (timezone-naive) DuckDB oracle, so pin
    # the session timezone on externally-built sessions too. Runtime conf,
    # same getOrCreate-sharing rationale as nanosAsLong.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-TZ TimestampType (µs), whatever the
    on-disk representation.

    The driver's generator has shipped two encodings across rounds:
    TIMESTAMP(NANOS) (read as long nanos under nanosAsLong) and plain
    TIMESTAMP_NTZ micros. Every downstream query assumes TimestampType,
    so detect from the schema rather than hardcoding either. Works on
    batch and streaming DataFrames alike (pure projection).

    - long nanos → integer `div` keeps full 64-bit precision (a double
      round-trip would corrupt epoch-nanos values > 2^53), truncating to
      µs exactly like DuckDB.
    - TIMESTAMP_NTZ → cast to TIMESTAMP; the session timezone is pinned
      to UTC (session.py), so the cast is value-preserving.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _file_identity(path: str) -> tuple[int, int, int] | None:
    """``(st_ino, st_mtime_ns, st_size)`` of a local regular file, else None."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A fresh parquet relation over ``path``, inferring its schema only
    when the schema map has none for the file as it is now."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[path] = (ident, df.schema)
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The on-disk schema of table ``name``, before any normalisation
    (a streaming read of the table's files declares it)."""
    if name == "events":
        ensure_nanos_conf(spark)
    return _read_parquet(spark, table_path(sf_dir, name)).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        ensure_nanos_conf(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the requested tables and register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def load_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    multi_line: bool = False,
):
    """CSV ingestion with an EXPLICIT schema — inference is a full
    extra pass over the data and type-guesses differently between
    engines/samples, so production loads always declare the schema.
    PERMISSIVE mode with a corrupt-record column quarantines malformed
    lines instead of failing the load (same dead-letter pattern as
    events_json_corrupt_accounting). ``multi_line`` only when fields
    contain newlines: it disables intra-file split parallelism, so
    prefer escaped single-line records at scale.
    """
    return (
        spark.read.schema(schema + ", _corrupt STRING")
        .option("header", str(header).lower())
        .option("multiLine", str(multi_line).lower())
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )


def load_json_lines(spark: SparkSession, path: str, schema: str):
    """JSON-lines ingestion with an explicit schema; malformed lines
    land in the corrupt-record column, not in a failed job."""
    return (
        spark.read.schema(schema + ", _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def load_evolving_parquet(spark: SparkSession, path: str, expect_schema: str | None = None):
    """Read a parquet dataset whose files were written under DIFFERENT
    schema versions — the normal state of a years-old 100 TB ingest dir.

    ``mergeSchema`` unions every file's schema (columns absent from a
    file read as NULL there); it costs one footer read per file at plan
    time, which is why it is NOT Spark's default — turn it on per-read
    like this, never globally. With ``expect_schema`` the merged result
    is then projected/cast to the declared contract: new unexpected
    columns drop, expected-but-missing columns materialize as typed
    NULLs — so downstream code sees one stable schema regardless of
    which era of files the scan touched.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expect_schema is None:
        return df
    want = StructType.fromDDL(expect_schema)
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for f in want.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
