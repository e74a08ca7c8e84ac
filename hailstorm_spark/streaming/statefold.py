"""Bucketed keyed-state folds for foreachBatch streaming queries.

Every keyed state the streaming queries keep lives here, and is read
only through this module: ``read_state`` for the whole table, one row
per key, and ``probe_state`` for the raw rows of the buckets some keys
hash to. A versioned full copy per batch (version N = merge(version
N-1, batch)) would rewrite the ENTIRE state every micro-batch: O(|state|)
per batch, not O(|batch|). The folds here keep state in ONE directory,
hash-partitioned on ``bucket = pmod(xxhash64(key), n_buckets)``, as a
LOG of per-key partials merged on read:

1. each batch is reduced to one row per (key, bucket) with the
   store's merge — per-column monoid ops (``bucketed_monoid_fold``)
   or latest-wins, ``max_by(struct(payload), struct(order_cols))``
   (``bucketed_latest_fold``) — with a map-side combine, so the
   exchange carries O(distinct batch keys) rows;
2. those rows are APPENDED as one new segment (file) per touched
   bucket: standing files are neither read nor rewritten, and every
   other bucket's files stay byte-for-byte untouched (pinned by
   tests/test_statefold.py, which snapshots file (path, mtime, size)
   across batches);
3. ``read_state`` merges each key's segments with the same op, driven
   by the ``_monoid.json`` sidecar the folds stamp (key, merge, union
   schema). A layout whose segment files total under
   ``_DRIVER_READ_BYTES`` on disk and decode to at most
   ``_DRIVER_DECODED_BYTES``, and whose key and merge pyarrow does
   exactly, is read and merged on the driver: each file checked
   against its Hadoop ``.crc``, parsed by pyarrow and merged in Arrow,
   one Spark job to materialise instead of a scan and an exchange.
   Others take a Spark scan and merge;
4. a touched bucket whose segment count reaches ``_COMPACT_SEGMENTS``
   is merged down to one row per key by the batch that touches it, so
   read fan-in stays bounded. A driver-appended batch compacts buckets
   whose segments total under ``_DRIVER_COMPACT_BYTES`` on the driver
   with the read's merge (``_driver_compact``).

A fold step costs O(|batch|) and is one Spark job. A per-(key, bucket)
partial that Spark estimates under ``_DRIVER_APPEND_BYTES`` is
collected once through Arrow and its segments are written from the
driver, so the job has no write stage (2 stages and 5 tasks on four
cores, against 3 and 9); larger partials, and those Spark cannot
estimate, are written by Spark. Both writers leave the same files in the same layout, and every
reader, compaction and migration reads either's. ``n_buckets`` is the
granularity dial (SCALE.md, "State bucket sizing").

Exactly-once: foreachBatch is at-least-once. Both merges are
commutative monoids (the paper's requirement on bolt state), and
latest-wins under a total (order_cols, key) ranking is also
IDEMPOTENT: re-merging a row already in the state re-selects the same
winner. So a replayed batch — or a fresh checkpoint whose batch ids
restart at 0 — just appends a duplicate segment that the merge
absorbs, and the latest-wins log needs no fence. Callers must make
the ranking total (ts + a unique id tiebreaker), which every caller
here does. Sum, min and friends are not idempotent: monoid segments
carry a ``_b`` batch-id fence and the directory an ``_epoch`` stamp
(see ``bucketed_monoid_fold``).

Two kinds of store keep other shapes (see ``bucketed_latest_fold``):
IMMUTABLE stores append rows verbatim with the ``_b`` fence and read
them without a merge; INDEX stores (``bucket_col`` != ``key``, the ER
cluster index) keep READ-REWRITE of touched buckets, because their
pinned exchange-free member lookups need one row per key on disk.
Moving both onto the merged-on-read table, behind a manifest, is what
remains of one keyed-state table.

Self-read-overwrite assumption: compaction, the read-rewrite path and
the tombstone sweep read ``state_dir`` and write ``mode('overwrite')``
back to the SAME path in one action. That is safe because the Spark 4
file-source V2 write stages its output under a job-attempt directory
and moves files only at job commit, after every read task of the
action has finished. It is not crash-atomic on a plain filesystem: a
crash mid-commit can lose the rewritten buckets' standing rows. A
compaction on the driver has the same window and no wider: it writes
the merged segment and its ``.crc`` under hidden names, then deletes
the bucket's old segments and renames the two into place.
Appends are not at risk. A crashed Spark append leaves only staging
files. A crashed driver append leaves some of the batch's buckets with
their new segment and the rest without: each file appears by one
rename, and hidden temporary names are never read. The replay, in a
fresh closure or a retry in the same one, then skips the buckets
already written (the monoid fold's ``_b`` fence) or re-appends rows
the merge absorbs (latest-wins). So on
the log-structured layouts the caveat applies to compaction alone.
Where mid-commit crashes must be survivable, ride a transactional
table format; this module is the layout/algorithm layer, not the
commit protocol.

Layout contract on disk: ``bucket=<i>/`` parquet partition directories
plus tiny driver-side markers — ``_n_buckets`` (the bucket count the
layout was written with; folds check it and refuse a mismatched
configuration, which would place a key's rows in the wrong bucket),
``_epoch`` (the checkpoint identity fencing the monoid fold's ``_b``
stamps; see ``_check_epoch``) and ``_monoid.json`` (the merge
sidecar). ``rebucket_state`` carries them across a migration.

Schema evolution envelope: ADD-only, batch-authoritative. The sidecar
records the union of every segment's schema (a column never leaves
it), and ``read_state`` reads through it without a footer scan: a
column the batch adds reads NULL from older segments; a column the
batch stops sending reads NULL for rows written since, and leaves a
bucket's files at that bucket's next compaction (which reads standing
rows through the batch's schema). The read-rewrite path drops such a
column from touched buckets at their next rewrite. For a monoid fold
a newly added column is NULL (not 0) for keys with no contribution
since it appeared — "never observed", not "observed zero". Layouts
without a sidecar (immutable and index stores, and layouts written
before the sidecar held a schema) are read with ``mergeSchema``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import struct
import uuid
import zlib
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hailstorm_spark.functions.hashing import spark_bucket
from hailstorm_spark.session import pinned_confs

__all__ = [
    "bucketed_latest_fold",
    "bucketed_monoid_fold",
    "compact_expired_tombstones",
    "key_buckets",
    "probe_state",
    "read_state",
    "rebucket_state",
    "state_bucket_count",
]

_EPOCH_FILE = "_epoch"
_LAYOUT_FILE = "_n_buckets"
_MONOID_FILE = "_monoid.json"
#: log-structured segment threshold (r15): an append-mode bucket whose
#: file count reaches this is folded down to ONE segment by the same
#: batch that touches it next. Bounds both the read fan-in (read_state
#: merges at most this many segments per bucket) and the replay fence
#: scan (per-bucket max(_b) reads this many footers), at the cost of
#: one bucket-local rewrite every K touches — the LSM trade. Shared by
#: every append-mode layout (monoid, latest-wins, immutable). The right
#: K is about merge amortization and is scale-independent, so it is a
#: constant, not a setting.
_COMPACT_SEGMENTS = 8
#: driver-append bound, in bytes of Spark's own size estimate of a
#: fold's per-(key, bucket) partial (the optimized plan's
#: ``sizeInBytes``): a monoid or latest-wins log fold whose partial is
#: estimated under it collects the partial once through Arrow and
#: appends the segments from the driver (:func:`_write_segments`),
#: skipping Spark's write stage and committer: on four cores a warm
#: 20k-row fold call went from 3 stages and 9 tasks to 2 and 5. A larger
#: partial, or one Spark cannot estimate (``createDataFrame`` and RDD
#: frames report ``Long.MaxValue``), keeps the Spark write. Taken from
#: the measured crossover of the two writers (warm fold steps, median of
#: 4, four cores, 16 buckets, parquet batches of distinct keys;
#: driver vs Spark write, monoid / latest-wins): 0.47 MB estimated
#: (20k rows) 264 / 254 vs 398 / 397 ms; 4.4 MB (200k) 625 / 877 vs
#: 630 / 948; 9.9 MB (500k) 1,108 / 1,714 vs 1,167 / 1,606; 19 MB (1M)
#: 1,952 / 3,153 vs 1,832 / 3,091; 38 MB (2M) 2,747 / 3,709 vs
#: 2,407 / 3,768. Skewed keys shrink the partial below its estimate and
#: move the crossover up (Zipf 1.1: 32 MB estimated still 981 / 2,262 vs
#: 1,060 / 2,403), so the bound is set where distinct keys stop
#: winning. It caps what one fold collects on the driver (about 1.3
#: times the estimate in Arrow for distinct longs), which does not grow
#: with the state, so it is a constant, not a setting.
_DRIVER_APPEND_BYTES = 8 << 20
#: bytes per checksum of the ``.crc`` files the driver append writes:
#: Hadoop's ``file.bytes-per-checksum`` default. A reader takes the
#: value from each file's header.
_CRC_CHUNK = 512
#: driver-read bound, in bytes of a log-structured layout's segment
#: files on disk: ``read_state`` merges a layout under it on the driver
#: (see ``read_state``), a larger one with a Spark scan and merge. Taken
#: from the measured crossover of the two reads
#: (``scripts/measure_read_crossover.py``: a monoid and a latest-wins
#: layout of 7 segments × 16 buckets, each read materialised with a
#: ``noop`` write, four cores; both layouts' bytes, driver vs Spark ms
#: cold / warm): 0.9 MB 209 / 161 vs 548 / 539; 2.7 MB 239 / 184 vs
#: 599 / 592; 10 MB 418 / 399 vs 736 / 629; 19 MB 983 / 1,021 vs
#: 1,506 / 1,255; 29 MB 1,331 / 1,259 vs 1,436 / 1,235; 38 MB 1,283 /
#: 1,428 vs 1,390 / 1,175; 76 MB 2,853 / 2,959 vs 2,494 / 2,186. The
#: two layouts split the bytes about evenly, so a layout stops winning
#: warm at about 14 MB of its own. What the read holds on the driver is
#: capped by ``_DRIVER_DECODED_BYTES``, not by this bound.
_DRIVER_READ_BYTES = 12 << 20
#: decoded-size cap of a driver read or compaction, in Arrow bytes of
#: the segments it has parsed: past it the read gives way to Spark's,
#: having held at most one file more than the cap. Bytes on disk do not
#: bound it: the layouts ``_DRIVER_READ_BYTES`` was measured on (longs,
#: mostly distinct) decode to 1.5-1.6 times their bytes on disk (1.37
#: MB to 2.0 MB, 5.0 MB to 8.0 MB, 10.0 MB to 16.1 MB per layout), but a
#: latest-wins layout whose payload is one of eight 40-character
#: strings decodes to 4.9 times (1.7 MB to 8.5 MB;
#: ``scripts/measure_read_crossover.py``). The cap is what the measured
#: layouts decode to at ``_DRIVER_READ_BYTES``, so the driver never
#: takes on more rows than the crossover covered; a layout that
#: compresses better reads through Spark from fewer bytes on disk.
_DRIVER_DECODED_BYTES = 20 << 20
#: driver-compaction bound, in bytes on disk of the segments one fold
#: call compacts: a driver-appended batch compacts its buckets at the
#: threshold on the driver under it (:func:`_driver_compact`), on Spark
#: over it. Taken from the measured crossover of the two compactions
#: (``scripts/measure_read_crossover.py --compact``: the fold call of a
#: 20k-row batch that compacts all 16 buckets of a layout of 8 segments,
#: median of 3, four cores; bytes compacted, driver vs Spark ms, monoid /
#: latest-wins): 0.54 / 0.51 MB 277 / 292 vs 779 / 802; 1.6 / 1.6 MB
#: 257 / 283 vs 711 / 821; 5.8 / 5.6 MB 409 / 415 vs 856 / 920; 8.6 /
#: 8.2 MB 452 / 544 vs 1,177 / 1,167; 11.4 / 10.8 MB 588 / 587 vs 987 /
#: 1,136; 14.2 / 13.3 MB 731 / 685 vs 1,105 / 1,413; 17.0 / 15.9 MB
#: 1,418 / 711 vs 1,065 / 1,354; 19.9 / 18.5 MB 1,566 / 738 vs 1,150 /
#: 1,349; 22.7 / 21.1 MB 1,502 / 1,852 vs 1,204 / 1,455. The monoid
#: compaction stops winning between 14 and 17 MB, so the bound sits
#: below the largest size where both won.
_DRIVER_COMPACT_BYTES = 12 << 20


def _segment_files(state_dir: str) -> dict[int, list[tuple[str, int]]]:
    """Each bucket's data files as (path, size): one listing of the
    layout and one of each ``bucket=<i>`` directory (the local/HDFS
    stand-in for a table format's file index). Hidden names (``.``,
    ``_``) are skipped, as Spark's listing skips them. The append's
    compaction choice counts these files; the driver read takes its
    size check and its file list from them."""
    out: dict[int, list[tuple[str, int]]] = {}
    if not os.path.isdir(state_dir):
        return out
    for name in os.listdir(state_dir):
        if not name.startswith("bucket="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        with os.scandir(os.path.join(state_dir, name)) as it:
            out[b] = [
                (e.path, e.stat().st_size)
                for e in it
                if not e.name.startswith(("_", ".")) and e.is_file()
            ]
    return out


def _bucket_file_counts(state_dir: str) -> dict[int, int]:
    """Per-bucket data-file counts (:func:`_segment_files`). Used only
    to pick compaction candidates; correctness never depends on it."""
    return {b: len(files) for b, files in _segment_files(state_dir).items()}


def _fold_width(s, n_buckets: int) -> int:
    """Exchange and writer width of every fold: min(buckets, cores).
    Writes route bucket ``b`` to task ``b mod width``
    (``repartitionById``), so it is still one file per touched bucket
    per batch, and the tasks are exactly balanced. More tasks than
    cores only adds scheduling rounds: on four cores, a latest-wins
    write of a 20k-row batch ran 37 tasks at width 16 and runs 13 at
    width 4. A fold call reads it once and passes it down."""
    return min(n_buckets, s.sparkContext.defaultParallelism)


def _fold_confs(s, width: int):
    """Run a fold's actions with AQE off and the shuffle width set to
    ``width`` (:func:`_fold_width`), not by the session. The fold plans
    are FIXED SHAPE — a touched-bucket distinct, a fence read, and a
    union → aggregate → ``repartitionById`` → write — so adaptive
    execution has nothing to adapt (no joins, no skew) and only adds
    one scheduling round per exchange: measured 5 jobs per fold call
    with AQE vs 2 without, identical results, at EVERY scale — the
    multi-trigger drains pay that floor dozens of times per run.
    Width = min(buckets, cores), and it is still one file per touched
    bucket per batch: the bucket count is the state layer's
    parallelism dial (SCALE.md), capped by the cores that can run it.

    Session-conf toggle through ``session.pinned_confs`` (an unset key
    stays unset). Concurrency contract (r15): folds either run
    serially inside foreachBatch, or overlap under
    streaming_queries._run_folds, which pins these exact values for
    the whole overlap region first — every concurrent save/set then
    reads and writes the same pinned values in any interleaving, so
    the toggles stay race-free BY VALUE, and the outer restore is the
    only one that writes anything else. "Same values" assumes the core
    count (``defaultParallelism``) holds still for the overlap; if
    executors come or go meanwhile, an overlapped plan may get another
    fold's width for its intermediate exchanges — still correct, and
    the writers' ``repartitionById`` width is fixed in each plan, so
    the file layout is unaffected."""
    return pinned_confs(
        s,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(width),
        },
    )


def _has_state(state_dir: str) -> bool:
    # first batch: the directory (or its first commit) does not exist
    # yet. The probe is "any committed bucket= partition directory" —
    # NOT a _SUCCESS marker: the dynamic-partition-overwrite commits
    # these folds use don't write one (verified on Spark 4.1), and the
    # staging output a crashed job leaves behind lives under dotted
    # temporary dirs that never match the bucket= prefix.
    return os.path.isdir(state_dir) and any(
        name.startswith("bucket=") for name in os.listdir(state_dir)
    )


def _check_epoch(state_dir: str, epoch: str) -> bool:
    """Fail loudly when a NEW batch-id sequence meets standing fenced
    state. foreachBatch batch ids are monotone only within one
    checkpoint; re-pointing a FRESH checkpoint (ids restart at 0) at
    existing additive state would make the ``_b`` fence silently
    swallow every early batch as a "replay" — data loss with no error.
    The state directory therefore carries an ``_epoch`` stamp (the
    caller's checkpoint identity); a mismatch against standing state
    raises instead of merging.

    Returns True when an UNSTAMPED standing table (built before the
    guard existed, or the marker was lost) is a candidate for adoption
    this call. Adoption is NOT stamped here: the stamp cannot
    distinguish that table's old batch-id frontier from the caller's
    sequence, so the FOLD first checks for a fence conflict (any
    standing ``max(_b) >= batch_id``) — a conflict raises WITHOUT
    stamping (the retry re-raises, loud and stable, instead of a
    stamped marker turning the retry into a silent skip), and a clean
    adoption is stamped via :func:`_stamp_epoch` before the data
    write, after which a crash-retry re-enters as a normal fenced
    replay. The fresh-creation path (no standing state) stamps
    immediately; a crash before the first data commit leaves
    marker-without-state, which re-enters creation harmlessly.
    """
    path = os.path.join(state_dir, _EPOCH_FILE)
    stored = None
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            stored = f.read()
    if stored == epoch:
        return False
    if stored is not None and _has_state(state_dir):
        raise RuntimeError(
            f"additive state at {state_dir} is fenced for checkpoint epoch "
            f"{stored!r} but this query runs under epoch {epoch!r}. A fresh "
            "checkpoint restarts batch ids at 0, which the per-bucket _b "
            "fence would misread as replays and silently drop. Either "
            "resume the original checkpoint, or deliberately migrate: "
            "delete the _epoch stamp AND reset the _b column (the fence is "
            "only meaningful within one batch-id sequence)."
        )
    if _has_state(state_dir):
        return True  # adoption candidate — fold stamps after its fence check
    _stamp_epoch(state_dir, epoch)
    return False


def _stamp_epoch(state_dir: str, epoch: str) -> None:
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, _EPOCH_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(epoch)
    os.replace(tmp, path)


def _read_sidecar(state_dir: str) -> dict | None:
    """The ``_monoid.json`` merge sidecar of a log-structured layout
    (``{"key", "cols" | "order", "schema"}``), or None."""
    path = os.path.join(state_dir, _MONOID_FILE)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _stamp_sidecar(s, state_dir: str, doc: dict, schema: StructType) -> None:
    """Stamp (or refresh) a log-structured layout's merge sidecar:
    ``doc`` is the key and the merge (per-column monoid ops, or the
    latest-wins order columns) ``read_state`` needs to fold segments
    back into one row per key. Batch-authoritative like the schema
    envelope — when a fold's merge evolves, the sidecar follows.

    It also records the union schema of every segment written, so
    ``read_state`` reads with an explicit schema and launches no
    footer-merging job. The union is add-only: a field keeps the type
    it was first recorded with and never leaves. A layout that predates
    the schema record seeds it from its standing footers, once. Called
    BEFORE the segment write: a crash in between leaves a recorded
    column no file carries yet, which reads NULL — never a written
    column the read would drop. Driver-side, one tiny JSON file,
    rewritten only on change."""
    old = _read_sidecar(state_dir)
    if old is not None and "schema" in old:
        fields = old["schema"]["fields"]
    elif _has_state(state_dir):
        fields = json.loads(
            s.read.option("mergeSchema", "true").parquet(state_dir).schema.json()
        )["fields"]
    else:
        fields = []
    names = {f["name"] for f in fields}
    fields = fields + [
        {**f, "nullable": True}
        for f in json.loads(schema.json())["fields"]
        if f["name"] not in names
    ]
    new = {**doc, "schema": {"type": "struct", "fields": fields}}
    if new == old:
        return
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, _MONOID_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(json.dumps(new))
    os.replace(tmp, path)


def _scan(spark, state_dir: str, doc: dict | None) -> DataFrame:
    """Every row of the layout, ``bucket`` included: through the
    sidecar's union schema when there is one (no schema job), else
    merging footers (a mid-evolution layout is legitimately
    mixed-schema, so the read must not trust one file)."""
    if doc is not None and "schema" in doc:
        return spark.read.schema(StructType.fromJson(doc["schema"])).parquet(
            state_dir
        )
    return spark.read.option("mergeSchema", "true").parquet(state_dir)


def state_bucket_count(state_dir: str, default: int) -> int:
    """The layout's authoritative bucket count for READ-path pruning
    (ADVICE r13): a pruned read that hashes keys with a count the
    layout was not written with prunes the WRONG directories and
    silently misses standing rows — and unlike the fold path, a read
    has no merge step to catch it. Probes therefore take the modulus
    FROM the ``_n_buckets`` marker the folds stamp and
    ``rebucket_state`` carries, so read-path pruning can never disagree
    with the on-disk layout; ``default`` (the caller's configured
    count) applies only before the first fold stamps the marker — when
    there is no committed state to prune against anyway."""
    path = os.path.join(state_dir, _LAYOUT_FILE)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return int(f.read())
    return default


def _check_layout(state_dir: str, n_buckets: int, spark, key: str) -> None:
    """Fail loudly when a fold's ``n_buckets`` disagrees with the
    layout on disk. The hazard is rebucket_state's twin footgun: after
    a migration to B'=32, a caller still configured with B=8 would
    hash a key into bucket 13's row... under bucket 5 — the touched-
    bucket pruning then READS THE WRONG DIRECTORIES, the standing row
    is never merged, and the key silently ends up with DUPLICATE rows
    in state. The bucket count is therefore stamped into the layout
    (``_n_buckets``) at creation, carried by rebucket_state, and
    checked on every fold.

    Adopting a pre-stamp layout is NOT taken on faith (the epoch
    stamp's adoption policy would be unsafe here — a mismatched count
    is exactly the hazard, and bucket-id ranges alone can't prove a
    match in either direction): adoption VERIFIES, once, that every
    standing row satisfies bucket == pmod(xxhash64(key), n_buckets) —
    a single column-pruned scan of (key, partition column) returning
    one count — and raises when any row disagrees.
    """
    path = os.path.join(state_dir, _LAYOUT_FILE)
    stored = None
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            stored = int(f.read())
    if stored == n_buckets:
        return
    if stored is not None and _has_state(state_dir):
        raise RuntimeError(
            f"state at {state_dir} is laid out with n_buckets={stored} but "
            f"this fold is configured with n_buckets={n_buckets}. Folding "
            "with a mismatched bucket count prunes the standing read to the "
            "WRONG directories and silently duplicates keys. Update the "
            "caller's n_buckets to match the layout (it changes only via "
            "rebucket_state, which restamps the marker)."
        )
    if stored is None and _has_state(state_dir):
        bad = (
            spark.read.parquet(state_dir)
            .filter(
                F.col("bucket")
                != F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
            )
            .limit(1)
            .count()
        )
        if bad:
            raise RuntimeError(
                f"unstamped state at {state_dir} does NOT match "
                f"n_buckets={n_buckets}: standing rows hash to different "
                "buckets under this count. Determine the layout's real "
                "bucket count (or rebucket_state it) before folding — "
                "adopting the wrong count would silently duplicate keys."
            )
    os.makedirs(state_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(n_buckets))
    os.replace(tmp, path)


#: merge operators a fenced fold may carry per column. Correctness
#: requirement: the ``_b`` fence applies each batch to each bucket
#: EXACTLY once, so the op need not be idempotent — it must only be
#: associative and commutative across batches (every entry here is),
#: with NULL = "no contribution" (Spark aggregates ignore NULLs, so a
#: key silent in a batch, or a column added mid-evolution, composes
#: correctly on every op, not just sum).
_MONOID_OPS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "bit_or": F.bit_or,
    "bit_and": F.bit_and,
}


def _latest_winners(df: DataFrame, key: str, order_cols, by=()) -> DataFrame:
    """One row per (``key``, ``*by``): the row ranking highest on
    ``order_cols``, via ``max_by`` over the order struct. One
    partially-aggregating HashAggregate (the map side pre-selects each
    key's local winner, so an exchange carries at most one row per key
    per map partition, and no sort runs). Struct comparison is
    lexicographic by field with NULL fields smallest, i.e. the desc /
    NULLS LAST ranking; ties are impossible across distinct payloads by
    the caller contract (total (order_cols, key) ranking), and
    replay-duplicate rows tie only with byte-identical rows. Columns
    keep ``df``'s order."""
    payload = [c for c in df.columns if c != key and c not in by]
    return (
        df.groupBy(key, *by)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_w")
        )
        .select(key, *by, "_w.*")
        .select(*df.columns)
    )


def _merge(doc: dict, df: DataFrame, by=()) -> DataFrame:
    """Fold a log-structured layout's rows to one row per (key,
    ``*by``) with the merge its sidecar ``doc`` declares. Compaction
    and the tombstone sweep merge per (key, bucket) and keep the
    monoid's ``_b`` fence (max per key, so the per-bucket max(_b) stays
    exactly where it was); ``read_state`` merges per key and drops
    it."""
    key = doc["key"]
    if "order" in doc:
        return _latest_winners(df, key, doc["order"], by)
    aggs = [_MONOID_OPS[op](c).cast("long").alias(c) for c, op in doc["cols"].items()]
    if by:
        aggs.append(F.max("_b").alias("_b"))
    return df.groupBy(key, *by).agg(*aggs)


def _append_segments(
    s, state_dir: str, part: DataFrame, width: int, merge, touched=None, counts=None
) -> None:
    """Append ``part`` — already routed with ``repartitionById(width,
    "bucket")`` — as one new segment per bucket it holds. A bucket of
    ``part`` whose segment count has reached ``_COMPACT_SEGMENTS`` is
    instead rewritten, segments plus the batch, through ``merge`` (one
    row per key, or rows verbatim for the immutable stores) as ONE
    file. ``touched`` is the exact bucket set of ``part`` when the
    caller knows it; otherwise it is collected, and only when some
    bucket is at the threshold. ``counts`` is the caller's
    :func:`_bucket_file_counts` of the layout, if it has one. The append
    reads no standing data, so without a compaction due this is one
    job."""
    if counts is None:
        counts = _bucket_file_counts(state_dir)
    over = {b for b, c in counts.items() if c >= _COMPACT_SEGMENTS}
    if over and touched is None:
        with _fold_confs(s, width):
            part = part.localCheckpoint(eager=True)
            touched = tuple(
                sorted(r[0] for r in part.select("bucket").distinct().collect())
            )
    compact = sorted(over & set(touched)) if over else []
    if touched is None or len(compact) < len(touched):
        with _fold_confs(s, width):
            (
                part.filter(~F.col("bucket").isin(compact)) if compact else part
            ).write.partitionBy("bucket").mode("append").parquet(state_dir)
    if compact:
        standing = (
            s.read.schema(part.schema)
            .parquet(state_dir)
            .filter(F.col("bucket").isin(compact))
        )
        merged = merge(
            standing.unionByName(part.filter(F.col("bucket").isin(compact)))
        ).repartition(len(compact), F.col("bucket"))
        with _fold_confs(s, width):
            merged.write.partitionBy("bucket").mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(state_dir)


#: atomic Spark types whose Arrow type pyarrow writes as the parquet
#: type Spark reads back as the same Spark type. Interval, variant,
#: null and user-defined types are not among them (an interval comes
#: back as a long), so a partial holding one takes the Spark write.
_ROUND_TRIP_TYPES = (
    BooleanType,
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    DecimalType,
    StringType,
    BinaryType,
    DateType,
    TimestampType,
)


def _round_trips(t) -> bool:
    """Whether a Spark type comes back unchanged through Arrow, a
    pyarrow-written parquet file and Spark's parquet reader."""
    if isinstance(t, StructType):
        return all(_round_trips(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _round_trips(t.elementType)
    if isinstance(t, MapType):
        return _round_trips(t.keyType) and _round_trips(t.valueType)
    return isinstance(t, _ROUND_TRIP_TYPES)


def _driver_appendable(partial: DataFrame) -> bool:
    """Whether a fold appends its per-(key, bucket) ``partial`` from
    the driver: every column but ``bucket`` round-trips
    (:func:`_round_trips`) and Spark estimates the partial — the rows
    the driver would collect — under ``_DRIVER_APPEND_BYTES``."""
    if not all(_round_trips(f.dataType) for f in partial.schema if f.name != "bucket"):
        return False
    size = partial._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) < _DRIVER_APPEND_BYTES


def _collect_partial(s, partial: DataFrame, width: int):
    """The partial as one Arrow table (one job under the fold confs),
    and the exact set of buckets it touches."""
    with _fold_confs(s, width):
        table = partial.toArrow()
    return table, tuple(sorted(pc.unique(table["bucket"]).to_pylist()))


def _hadoop_crc(body, chunk: int = _CRC_CHUNK) -> bytes:
    """The ``.crc`` file Hadoop's checksummed local filesystem keeps
    beside a data file and verifies on every read: ``crc\\0``, the bytes
    per checksum (``chunk``), then the big-endian CRC32 of each chunk."""
    view = memoryview(body)
    sums = [zlib.crc32(view[i : i + chunk]) for i in range(0, len(view), chunk)]
    return b"crc\0" + struct.pack(f">i{len(sums)}I", chunk, *sums)


def _stage(path: str, body, mode: int) -> str:
    """Write ``body`` under a hidden name beside ``path`` (Spark's
    listing skips it) and give it ``mode``; returns the hidden name."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(body)
    os.chmod(tmp, mode)
    return tmp


def _publish(path: str, body, mode: int) -> None:
    """Write ``body`` under a hidden name and rename it to ``path``."""
    os.replace(_stage(path, body, mode), path)


def _dictionary_columns(segment) -> list[str]:
    """The columns of a driver-written segment worth dictionary
    encoding: atomic ones whose distinct values are at most half the
    segment's rows, as parquet-mr keeps a dictionary only where it is
    smaller. Per 20k-row ``keyed_state_fold`` batch (16 segments,
    snappy): monoid partials 157,884 bytes plain, 188,789 with every
    column encoded, 156,142 with this rule (``_b`` only); latest-wins
    winners 153,444, 184,075 and 153,444 (none: a segment's ``ts`` is
    mostly distinct); partials of small counts (values in ±100) 69,175,
    73,981 and 65,835. Judged per segment, not per batch: a column with
    few distinct values in the batch can still be mostly distinct in
    each bucket's share."""
    return [
        f.name
        for f in segment.schema
        if not pa.types.is_nested(f.type)
        and 2 * pc.count_distinct(segment[f.name]).as_py() <= segment.num_rows
    ]


def _write_segments(s, state_dir: str, table, buckets, replace=None) -> None:
    """Append one parquet segment per bucket in ``buckets`` from the
    driver: the rows of ``table`` in that bucket, ``bucket`` dropped,
    as ``bucket=<b>/part-…parquet``. ``replace`` maps a bucket to the
    data files its new segment replaces (a compaction): the new segment
    and its ``.crc`` are written under hidden names first, then the old
    files and their ``.crc`` are deleted and the two new ones renamed
    into place, so a crash loses standing rows only between a delete and
    a rename, as in Spark's overwrite commit. Each file is laid down the way
    Spark's write through the local filesystem would leave it:
    dictionary encoding only for a column whose distinct values in the
    segment are at most half its rows (:func:`_dictionary_columns`),
    snappy, a Hadoop
    ``.crc`` beside it (:func:`_hadoop_crc`), and Hadoop's modes under
    the configured ``fs.permissions.umask-mode``, not the process umask.
    The ``.crc`` is renamed into place before its data file, so a listed
    segment always has its checksum. Local filesystem only, like the
    layout's markers.

    Writing through the session's Hadoop ``FileSystem`` instead (create,
    write, close, rename) would make Hadoop produce the ``.crc`` and the
    modes, but costs six py4j calls per file at about 0.8 ms each: 16
    segments of a 20k-row partial took 76 ms that way against 25 ms
    here, and 179 ms against 80 ms at 200k rows (median of 10, four
    cores)."""
    umask = s._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        s._jsc.hadoopConfiguration()
    ).toShort()
    table = table.sort_by("bucket")
    data = table.drop_columns(["bucket"])
    todo = set(buckets)
    offset = 0
    # the table is sorted, so value_counts lists the buckets ascending
    # and each bucket's rows are one slice
    for entry in pc.value_counts(table["bucket"]).to_pylist():
        b, n = entry["values"], entry["counts"]
        if b in todo:
            d = os.path.join(state_dir, f"bucket={b}")
            if not os.path.isdir(d):
                os.makedirs(d)
                os.chmod(d, 0o777 & ~umask)
            segment = data.slice(offset, n)
            sink = pa.BufferOutputStream()
            pq.write_table(
                segment,
                sink,
                compression="snappy",
                use_dictionary=_dictionary_columns(segment),
                store_schema=False,
            )
            body = sink.getvalue()
            name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
            crc_path, path = os.path.join(d, f".{name}.crc"), os.path.join(d, name)
            if replace and b in replace:
                staged = [
                    (_stage(crc_path, _hadoop_crc(body), 0o666 & ~umask), crc_path),
                    (_stage(path, body, 0o666 & ~umask), path),
                ]
                for old in replace[b]:
                    os.remove(old)
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(d, f".{os.path.basename(old)}.crc"))
                for tmp, dst in staged:
                    os.replace(tmp, dst)
            else:
                _publish(crc_path, _hadoop_crc(body), 0o666 & ~umask)
                _publish(path, body, 0o666 & ~umask)
        offset += n


def _driver_append(
    s, state_dir: str, table, buckets, schema: StructType, width: int, layout: dict
) -> None:
    """Append the collected partial ``table`` (``schema``) as one new
    segment per bucket in ``buckets``, from the driver. Buckets at the
    compaction threshold are compacted on the driver when
    :func:`_driver_compact` can; otherwise they get
    ``_append_segments``' compaction with ``layout``'s merge, fed the
    collected rows, so the batch is never evaluated again."""
    segments = _segment_files(state_dir)
    counts = {b: len(files) for b, files in segments.items()}
    compact = [b for b in buckets if counts.get(b, 0) >= _COMPACT_SEGMENTS]
    _write_segments(s, state_dir, table, [b for b in buckets if b not in compact])
    if compact and not _driver_compact(s, state_dir, table, compact, segments, schema, layout):
        rows = table.filter(pc.is_in(table["bucket"], pa.array(compact, pa.int32())))
        _append_segments(
            s,
            state_dir,
            _arrow_frame(s, rows, schema).repartitionById(width, "bucket"),
            width,
            lambda df: _merge(layout, df, ("bucket",)),
            tuple(compact),
            counts,
        )


def _driver_compact(s, state_dir: str, table, compact, segments, schema, layout) -> bool:
    """Compact each bucket in ``compact`` on the driver: its segments
    (``segments``, checked against their ``.crc``) and its rows of the
    collected partial ``table``, read through the batch's ``schema`` as
    the Spark compaction reads them, merged per key with ``layout``'s
    merge in Arrow (a monoid keeps each key's max ``_b``, so the
    bucket's fence stays where it was), and written as one segment that
    replaces them. False, with nothing written, where the merge is not
    one the driver does exactly (:func:`_driver_mergeable`), the
    buckets' segments total ``_DRIVER_COMPACT_BYTES`` or more on disk or
    decode to more than ``_DRIVER_DECODED_BYTES``, or the Arrow read or
    merge gives way to Spark's.

    Like the Spark compaction's overwrite commit, it is not
    crash-atomic: both new files are written under hidden names first,
    and a crash after a bucket's old segments are deleted and before the
    new ones are renamed into place loses that bucket's standing rows
    (see the module docstring)."""
    fields = [StructField(f.name, f.dataType, True) for f in schema if f.name != "bucket"]
    files = {b: segments.get(b, []) for b in compact}
    if not _driver_mergeable(layout, fields) or sum(
        n for fs in files.values() for _p, n in fs
    ) >= _DRIVER_COMPACT_BYTES:
        return False
    try:
        rows = table.drop_columns(["bucket"]).cast(to_arrow_schema(StructType(fields)))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return False
    merged = []
    decoded = 0
    for b in compact:
        standing = _read_segments(files[b], fields)
        if standing is None:
            return False
        decoded += standing.nbytes
        if decoded > _DRIVER_DECODED_BYTES:
            return False
        m = _driver_merge(
            layout, pa.concat_tables([standing, rows.filter(pc.equal(table["bucket"], b))])
        )
        if m is None:
            return False
        merged.append(m.append_column("bucket", pa.array([b] * m.num_rows, pa.int32())))
    _write_segments(
        s,
        state_dir,
        pa.concat_tables(merged),
        compact,
        {b: [p for p, _n in fs] for b, fs in files.items()},
    )
    return True


def bucketed_latest_fold(
    state_dir: str,
    *,
    key: str,
    order_cols: tuple[str, ...],
    n_buckets: int = 16,
    touched_log: list[tuple[int, tuple[int, ...]]] | None = None,
    bucket_col: str | None = None,
    immutable: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch(fold) maintaining a latest-wins keyed state
    table at ``state_dir``, bucket-partitioned. ``order_cols`` rank
    DESC and must be total per key (append a unique id).
    ``touched_log``, if given, receives (batch_id, touched_buckets) —
    driver-side, bounded by n_buckets per entry — so tests and ops can
    assert write locality. A driver append (see the module docstring)
    reads the set off its collected rows; a Spark write pays one extra
    collect per call for it. The returned fold also takes
    ``touched_hint``: a caller-computed EXACT touched set
    (:func:`key_buckets`), used instead of that collect.

    Layout (bucketing on the key itself, the default): an append-only
    log of per-(key, bucket) winners, ``max_by(struct(payload),
    struct(order_cols))``, one segment per touched bucket per batch;
    ``read_state`` merges a key's segments with the same ``max_by``.
    Every call is ONE job whatever the batch id, and writes O(|batch|)
    bytes. There is no ``_b`` fence and no ``_epoch``: the merge is
    idempotent, so a replayed batch, or a fresh checkpoint whose ids
    restart at 0, appends a duplicate segment the merge absorbs (a
    fence without an epoch would make a re-pointed checkpoint silently
    drop its early batches as "replays"). Compaction at
    ``_COMPACT_SEGMENTS`` merges a bucket's segments plus the batch to
    one row per key; a column the batch stopped sending leaves the
    bucket's files then. Layouts written by the earlier read-rewrite
    fold (one row per key) upgrade in place as a single segment.
    ``probe_state`` returns raw rows, so its callers resolve each key
    to its newest version themselves (the ER label readers do).

    ``bucket_col`` decouples co-location from identity: an INDEX-shaped
    consumer — the streaming ER cluster index, keyed by (doc, cluster)
    but looked up by cluster — buckets on the lookup column, so a
    reader pruning to a cluster's bucket finds ALL its members in one
    partition directory; latest-wins still runs per ``key``, and the
    ``_n_buckets`` check verifies bucket == pmod(xxhash64(bucket_col))
    on adoption. These stores keep READ-REWRITE — per batch, the
    touched buckets' standing rows (a static partition filter) ∪ the
    batch are merged by ``max_by`` per key and the touched buckets
    rewritten with dynamic partition overwrite — because their member
    lookups read the directory in a pinned exchange-free plan and
    filter ``alive`` per row, so they need one row per key on disk.

    ``bucket_col`` CONTRACT (ADVICE r12): the column must be a pure
    function of the KEY (immutable per key across versions). Placement
    is per row, so a key whose later version computed a DIFFERENT
    bucket_col would leave its old version untouched in the old bucket,
    and ``read_state`` would silently return duplicate rows; the per-
    row ``_n_buckets`` check can never catch this. The read-rewrite
    fold therefore ASSERTS functional dependence over the rows it can
    see (standing rows of touched buckets ∪ the batch) and dies loudly
    on a key in two buckets. The blind spot — a stale version in a
    bucket this batch never touches — would need a full-state scan per
    batch; callers needing mutable placement keys must tombstone the
    old bucket explicitly or bucket on the key itself.

    ``immutable=True`` (r14): for stores whose rows NEVER change once
    written — element/band/vector/record stores, where ``order_cols``
    is the key itself — rows are appended verbatim, stamped with a
    ``_b`` batch-id DATA column (the monoid fold's fence); a replayed
    batch reads the touched buckets' per-bucket max(_b) (a
    column-pruned scan) and skips buckets already at/above its id.
    ``read_state`` drops ``_b``. Contract (caller-guaranteed): a key's
    row — including its bucket_col — is identical wherever it
    reappears, so skipped re-appends lose nothing; the schema is frozen
    for the store's lifetime (evolve via rebucket_state). Batch-internal
    key uniqueness is checked (ADVICE r14): the append rides a
    per-(key, bucket) aggregation — satisfied by the write's own bucket
    partitioning, so it adds NO exchange — that dies loudly on a key
    duplicated within its bucket (a key whose bucket_col drifts ACROSS
    buckets within a batch would need an exchange to check; it remains
    contract). Compaction carries rows and their ``_b`` verbatim, so
    the per-bucket fence is preserved exactly.

    Committed-frontier fast path (immutable stores and the monoid
    fold): within one fold closure batch ids are monotone and the
    closure is the state's only writer (the foreachBatch contract), so
    a batch id STRICTLY ABOVE the closure's last-committed id cannot be
    a replay — the touched collect and the fence scan are skipped and
    the fold is ONE job. The first call of a closure (a fresh process —
    exactly where a replay can arrive), any id at/below the frontier,
    and the call after one that raised (the frontier is cleared until a
    call commits, as a failed call may have written some of its bucket
    files) take the fenced path. So does an immutable-store call with
    ``touched_log`` or ``touched_hint``; the monoid fold logs the touched
    set on the fast path too, without a fence scan.
    """
    bcol = bucket_col or key
    rewrite = not immutable and bcol != key
    layout = {"key": key, "order": list(order_cols)}
    frontier: list[int | None] = [None]  # this closure's committed max id

    def _imm_append(s, rows, batch_id: int, todo, width: int) -> None:
        """Append-mode write of batch rows (restricted to ``todo`` when
        given), through the per-(key, bucket) uniqueness guard that
        rides the append's own partitioning (see docstring)."""
        out = rows if todo is None else rows.filter(
            F.col("bucket").isin(list(todo))
        )
        out = out.withColumn("_b", F.lit(batch_id).cast("long"))
        payload = [c for c in out.columns if c not in (key, "bucket")]
        guard = F.coalesce(
            F.assert_true(
                F.col("_n") == 1,
                F.concat(
                    F.lit(
                        f"bucketed_latest_fold(immutable) at {state_dir}: "
                        "batch is not key-unique within bucket — appending "
                        "would create silent duplicate state rows. "
                        "Offending key: "
                    ),
                    F.col(key).cast("string"),
                ),
            ).cast("int"),
            F.lit(0),
        )
        checked = (
            out.repartitionById(width, "bucket")
            .groupBy(key, "bucket")
            .agg(*[F.first(c).alias(c) for c in payload], F.count(F.lit(1)).alias("_n"))
            .withColumn("_n", guard)
            .filter(F.col("_n") == 0)
            .select(*out.columns)
        )
        _append_segments(s, state_dir, checked, width, lambda df: df, todo)

    def _touched(s, rows, width: int, touched_hint) -> tuple[int, ...]:
        if touched_hint is not None:
            return tuple(sorted(set(touched_hint)))
        with _fold_confs(s, width):
            return tuple(
                sorted(r[0] for r in rows.select("bucket").distinct().collect())
            )

    def fold(
        batch_df: DataFrame, batch_id: int, touched_hint=None
    ) -> None:
        s = batch_df.sparkSession
        width = _fold_width(s, n_buckets)
        _check_layout(state_dir, n_buckets, s, bcol)
        rows = batch_df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bcol)), F.lit(n_buckets)).cast("int")
        )
        if not immutable and not rewrite:
            winners = _latest_winners(rows, key, order_cols, ("bucket",))
            table = touched = None
            if _driver_appendable(winners):
                table, touched = _collect_partial(s, winners, width)
            elif touched_log is not None or touched_hint is not None:
                touched = _touched(s, rows, width, touched_hint)
            if touched_log is not None:
                touched_log.append((batch_id, touched))
            if touched is not None and not touched:
                return  # empty batch (e.g. a no-data trigger): no-op
            _stamp_sidecar(s, state_dir, layout, rows.schema)
            if table is not None:
                _driver_append(
                    s, state_dir, table, touched, winners.schema, width, layout
                )
            else:
                _append_segments(
                    s,
                    state_dir,
                    winners.repartitionById(width, "bucket"),
                    width,
                    lambda df: _merge(layout, df, ("bucket",)),
                    touched,
                )
            return
        # cleared until this call commits: a call that fails part-way
        # leaves the next one fenced (see the fast path below)
        last, frontier[0] = frontier[0], None
        committed = batch_id if last is None else max(last, batch_id)
        if (
            immutable
            and touched_log is None
            and touched_hint is None
            and last is not None
            and batch_id > last
        ):
            # committed-frontier fast path: provably not a replay, so
            # no touched collect and no fence scan — one append job
            _imm_append(s, rows, batch_id, None, width)
            frontier[0] = committed
            return
        touched = _touched(s, rows, width, touched_hint)
        if touched_log is not None:
            touched_log.append((batch_id, touched))
        if not touched:  # empty batch (e.g. a no-data trigger): no-op
            frontier[0] = last
            return
        if immutable:
            todo = touched
            if _has_state(state_dir):
                # replay fence: per-bucket max(_b) over the touched
                # buckets (column-pruned scan — reads two thin columns,
                # never payloads); buckets already stamped with this or
                # a later batch were committed by a previous attempt
                with _fold_confs(s, width):
                    applied = {
                        r["bucket"]
                        for r in s.read.parquet(state_dir)
                        .filter(F.col("bucket").isin(list(touched)))
                        .groupBy("bucket")
                        .agg(F.max("_b").alias("mb"))
                        .filter(F.col("mb") >= batch_id)
                        .collect()
                    }
                todo = tuple(b for b in touched if b not in applied)
                if not todo:
                    frontier[0] = committed
                    return
            _imm_append(s, rows, batch_id, todo, width)
            frontier[0] = committed
            return
        # read-rewrite (index stores, bucket_col != key)
        if _has_state(state_dir):
            # the batch schema is authoritative (add-only evolution, see
            # module docstring): reading standing files THROUGH it NULL-
            # fills columns the batch just added, drops columns the batch
            # stopped sending, and skips footer-based schema inference
            standing = s.read.schema(rows.schema).parquet(state_dir).filter(
                F.col("bucket").isin(list(touched))
            )
            rows = standing.unionByName(rows)
        # bucket_col functional-dependence assert (ADVICE r12): rides
        # the SAME per-key aggregation (min/max of bucket in the same
        # partial agg — no extra exchange) and is folded into a filter
        # so column pruning cannot elide it — a key seen in two buckets
        # among the rows this batch reads is a contract violation that
        # would otherwise become silent duplicate state
        payload = [c for c in rows.columns if c != key]
        g = rows.groupBy(key).agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_w"),
            F.min("bucket").alias("_bmin"),
            F.max("bucket").alias("_bmax"),
        )
        fd_ok = F.coalesce(
            F.assert_true(
                F.col("_bmin") == F.col("_bmax"),
                F.concat(
                    F.lit(
                        f"bucketed_latest_fold at {state_dir}: bucket_col "
                        f"{bcol!r} is not a pure function of key {key!r} "
                        "— one key maps to multiple buckets, which "
                        "latest-wins placement would turn into silent "
                        "duplicate rows. Offending key: "
                    ),
                    F.col(key).cast("string"),
                ),
            ).cast("int"),
            F.lit(0),
        )
        merged = (
            g.withColumn("_fd", fd_ok)
            .filter(F.col("_fd") == 0)
            .select(key, "_w.*")
            .select(*rows.columns)  # restore the layout's column order
            # one file per touched bucket per batch, at width
            # min(buckets, cores) (see _fold_width)
            .repartitionById(width, "bucket")
        )
        with _fold_confs(s, width):
            merged.write.partitionBy("bucket").mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(state_dir)

    # layout facts for callers that compute touched_hint driver-side
    fold.n_buckets = n_buckets
    fold.key = key
    fold.bucket_col = bcol
    return fold


def bucketed_monoid_fold(
    state_dir: str,
    *,
    key: str,
    cols: dict[str, str],
    n_buckets: int = 16,
    touched_log: list[tuple[int, tuple[int, ...]]] | None = None,
    epoch: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch(fold) maintaining per-column MONOID keyed
    state: ``cols`` maps each state column to its merge op — ``sum`` /
    ``min`` / ``max`` / ``bit_or`` / ``bit_and`` — and the fold keeps,
    per key, the op-fold of every contribution ever delivered (running
    sums are ``cols={c: "sum" ...}``; encode COUNT as a lit(1) column
    and deletes/retractions as signed values). All state columns are
    ``long`` (the fold casts) — encode dates as epoch days, decimals as
    scaled integers, register words as longs.

    Cost shape (r15, log-structured): per batch, one map-side-combined
    partial aggregation (O(distinct batch keys) on the exchange)
    APPENDED as a new segment per touched bucket; ``read_state`` merges
    the segments with the ops recorded in the ``_monoid.json`` sidecar.
    Compaction at ``_COMPACT_SEGMENTS`` re-aggregates a bucket per key,
    each compacted row carrying max(_b) of its contributors, so the
    per-bucket fence is preserved exactly. Standing pre-r15 layouts
    (fully-merged rows) upgrade in place: a merged row is a segment
    whose value covers every prior batch.

    These ops are not idempotent — a replayed batch would double-add —
    so fencing is stored IN the state: every row carries ``_b``, the
    batch_id that wrote it. Touched buckets whose standing ``max(_b)``
    is already >= batch_id are SKIPPED (a full replay leaves their
    files byte-identical, which the tests pin); the rest get the
    batch's partials stamped ``_b = batch_id``. A bucket's new segment
    appears at once (at job commit for a Spark write, by one rename for
    a driver append), so a replay observes either the pre-batch state
    (re-applies) or the post-batch stamp (skips). On an
    object store without atomic job commit the same discipline rides a
    transactional table format, where data and fence commit together.
    Since each batch reaches each bucket exactly once, the op only
    needs associativity + commutativity ACROSS batches (arrival order
    is not deterministic under retries); means ride as (sum, count),
    distinct-ish state as bit_or over register words. What canNOT ride:
    an op needing retraction (min over a stream with DELETES) — that is
    matview territory, not a fold.

    The fence is only meaningful within ONE monotone batch-id sequence
    — one checkpoint. Pass ``epoch`` (any stable string identifying the
    checkpoint, e.g. its directory path) and the fold stamps the state
    directory with it and REFUSES to merge when a different epoch meets
    standing state, instead of silently swallowing the restarted ids
    0..N as replays (see ``_check_epoch``). ``epoch=None`` keeps the
    unguarded behavior for callers that manage the invariant
    themselves.

    The committed-frontier fast path (see ``bucketed_latest_fold``)
    applies: a batch id strictly above this closure's last committed
    id cannot be a replay, so the fence scan is skipped and the fold is
    ONE job. A Spark write with nothing to fence (the fast path, or no
    standing state yet) and no ``touched_log`` is that one append job;
    otherwise, without a ``touched_hint``, it checkpoints its partial
    first, so the touched collect and the append evaluate the batch
    once.
    """
    bad = {c: op for c, op in cols.items() if op not in _MONOID_OPS}
    if bad:
        raise ValueError(
            f"unsupported monoid op(s) {bad}; supported: {sorted(_MONOID_OPS)}"
        )
    aggs = [_MONOID_OPS[op](c).cast("long").alias(c) for c, op in cols.items()]
    layout = {"key": key, "cols": dict(cols)}
    frontier: list[int | None] = [None]  # this closure's committed max id

    def merge(df):
        return _merge(layout, df, ("bucket",))

    def _append(s, partial, todo, width: int) -> None:
        part = partial if todo is None else partial.filter(
            F.col("bucket").isin(list(todo))
        )
        _append_segments(
            s, state_dir, part.repartitionById(width, "bucket"), width, merge, todo
        )

    def fold(
        batch_df: DataFrame, batch_id: int, touched_hint=None
    ) -> None:
        s = batch_df.sparkSession
        width = _fold_width(s, n_buckets)
        _check_layout(state_dir, n_buckets, s, key)
        adopted = False
        if epoch is not None:
            adopted = _check_epoch(state_dir, epoch)
        partial = (
            batch_df.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
            )
            .groupBy(key, "bucket")
            .agg(*aggs)
            .withColumn("_b", F.lit(batch_id).cast("long"))
        )
        _stamp_sidecar(s, state_dir, layout, partial.schema)
        # cleared until this call commits: a call that fails after some
        # of its bucket files (a driver append, or a compaction after a
        # Spark append) leaves the next one fenced
        last, frontier[0] = frontier[0], None
        committed = batch_id if last is None else max(last, batch_id)
        # committed-frontier fast path: provably not a replay (see
        # bucketed_latest_fold), so no fence scan
        fast = not adopted and last is not None and batch_id > last
        table = None
        if _driver_appendable(partial):
            # one collect gives the rows to append and the touched set
            table, touched = _collect_partial(s, partial, width)
        elif touched_log is None and (fast or not _has_state(state_dir)):
            # nothing to fence: one append job, no collects
            _append(s, partial, None, width)
            frontier[0] = committed
            return
        elif touched_hint is not None:
            touched = tuple(sorted(set(touched_hint)))
        else:
            with _fold_confs(s, width):
                # checkpointed, so the touched collect and the append
                # do not both evaluate the batch
                partial = partial.localCheckpoint(eager=True)
                touched = tuple(
                    sorted(
                        r[0]
                        for r in partial.select("bucket").distinct().collect()
                    )
                )
        todo = touched
        if not fast and _has_state(state_dir):
            if adopted:
                # adoption soundness is a GLOBAL property: the unstamped
                # table's whole _b frontier (not just the touched
                # buckets') must be behind this batch id, else its
                # sequence cannot be verified as this checkpoint's. One
                # single-column agg over the fence column only.
                adopt_frontier = (
                    s.read.schema(partial.schema)
                    .parquet(state_dir)
                    .agg(F.max("_b"))
                    .collect()[0][0]
                )
                if adopt_frontier is not None and adopt_frontier >= batch_id:
                    # raise WITHOUT stamping: the retry re-raises, loud
                    # and stable, instead of a stamped marker turning
                    # the retry into a silent skip (the r9 footgun)
                    raise RuntimeError(
                        f"standing state at {state_dir} has no _epoch stamp "
                        f"and its _b frontier ({adopt_frontier}) already "
                        f"covers batch_id {batch_id} — its batch-id "
                        "sequence cannot be verified as this checkpoint's, "
                        "and skipping would silently drop batches. Resume "
                        "the original checkpoint, or deliberately migrate "
                        "(reset _b / stamp _epoch by hand)."
                    )
                # clean adoption: stamp BEFORE the data write so a
                # crash-retry re-enters as a normal fenced replay
                _stamp_epoch(state_dir, epoch)
            # batch-authoritative schema (add-only evolution): a new sum
            # column is NULL-filled from pre-evolution files; sum() then
            # yields NULL for keys with no contribution since it appeared
            if touched:
                # replay fence: buckets already stamped with this (or a
                # later) batch_id were committed by a previous attempt —
                # bounded collect, <= n_buckets rows
                standing = (
                    s.read.schema(partial.schema)
                    .parquet(state_dir)
                    .filter(F.col("bucket").isin(list(touched)))
                )
                with _fold_confs(s, width):
                    applied = {
                        r["bucket"]
                        for r in standing.groupBy("bucket")
                        .agg(F.max("_b").alias("mb"))
                        .filter(F.col("mb") >= batch_id)
                        .collect()
                    }
                todo = tuple(b for b in touched if b not in applied)
        if touched_log is not None:
            touched_log.append((batch_id, todo))
        if todo:
            if table is None:
                _append(s, partial, todo, width)
            else:
                _driver_append(
                    s, state_dir, table, todo, partial.schema, width, layout
                )
        frontier[0] = committed

    # layout facts for callers that compute touched_hint driver-side
    fold.n_buckets = n_buckets
    fold.key = key
    fold.bucket_col = key
    return fold


def compact_expired_tombstones(
    spark,
    state_dir: str,
    expired,  # Column: true for rows to physically remove
    probe_buckets=None,  # optional bucket ids bounding the dirty probe
) -> tuple[int, ...]:
    """Retention sweep over a bucketed state table: physically remove
    rows matching ``expired``, rewriting ONLY the buckets that contain
    at least one such row. Returns the dirty bucket ids (bounded by
    the layout's bucket count).

    The emptied-bucket hazard (the bucket-level twin of the matview
    emptied-day case): a dirty bucket whose EVERY row expires has no
    rows in the output, and dynamic partition overwrite only replaces
    partitions PRESENT in the output — the stale files would silently
    survive. Buckets with survivors ride dynamic overwrite; fully
    emptied buckets get a targeted empty overwrite of their own
    directory (replaces the files with an empty commit), so the sweep
    is correct whatever the expiry pattern. All driver-side lists here
    are bucket ids — bounded, tiny.

    Cost shape: the dirty-bucket PROBE is a full column-pruned scan of
    the state (``expired`` is a data predicate, not a partition filter
    — parquet row-group stats skip most pages, but every bucket is
    opened); only the REWRITE is dirty-bucket-local. That is the right
    trade for a scheduled retention sweep; to bound the probe too,
    maintain a per-bucket min-tombstone-timestamp sidecar and prune to
    buckets behind the horizon.

    Log-structured layouts (a ``_monoid.json`` sidecar) hold several
    rows per key, and ``expired`` judges a key's MERGED row: each dirty
    bucket is first merged to one row per key (a compaction, so its
    files end up as one segment), and only then are expired rows
    dropped. Dropping raw rows instead would let an older live version
    outlive a newer expired tombstone and come back. The dirty probe
    still reads raw rows; for latest-wins, a superseded expired row
    only makes its bucket dirty, which merging then clears.

    A NULL ``expired`` (e.g. the predicate references a column that is
    NULL for some rows) means KEEP on every path: it neither marks a
    bucket dirty nor drops the row from a bucket made dirty by another
    row — normalized once below so the two filters cannot disagree.

    ``probe_buckets`` (r14) is the sidecar bound the cost-shape note
    above prescribes: a caller that TRACKS which buckets can hold
    expired rows (e.g. the indexed-label step's tombstone-version
    sidecar) passes them and the dirty probe becomes a static bucket
    partition filter instead of a full-state scan; an EMPTY iterable
    short-circuits with zero Spark jobs. The bound must be
    conservative (a superset of the truly dirty buckets) — rows
    outside it are silently kept, which for retention sweeps is the
    safe direction (GC delayed, never wrong). ``None`` keeps the full
    probe.
    """
    if probe_buckets is not None:
        probe_buckets = sorted(set(probe_buckets))
        if not probe_buckets:
            return ()
    expired = F.coalesce(expired, F.lit(False))
    doc = _read_sidecar(state_dir)
    state = _scan(spark, state_dir, doc)
    if probe_buckets is not None:
        state = state.filter(F.col("bucket").isin(probe_buckets))
    dirty = tuple(
        sorted(
            r[0]
            for r in state.filter(expired).select("bucket").distinct().collect()
        )
    )
    if not dirty:
        return dirty
    survivors = state.filter(F.col("bucket").isin(list(dirty)))
    if doc is not None:
        survivors = _merge(doc, survivors, ("bucket",))
    survivors = survivors.filter(~expired)
    surviving = {
        r[0] for r in survivors.select("bucket").distinct().collect()
    }
    if surviving:
        survivors.repartition(len(surviving), F.col("bucket")).write.partitionBy(
            "bucket"
        ).mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(
            state_dir
        )
    empty = spark.createDataFrame([], survivors.drop("bucket").schema)
    for b in dirty:
        if b not in surviving:
            empty.write.mode("overwrite").parquet(f"{state_dir}/bucket={b}")
    return dirty


#: Spark types a pyarrow hash group and sort treat as Spark's grouping
#: and ordering do, so a key or a latest-wins order column of one of
#: them is merged on the driver. Floating point is not among them
#: (Spark groups -0.0 with 0.0 and orders NaN above every number), nor
#: are nested types or strings under a collation other than binary.
_DRIVER_KEY_TYPES = (
    BooleanType,
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    DecimalType,
    StringType,
    BinaryType,
    DateType,
    TimestampType,
)
#: monoid ops a pyarrow hash aggregate computes exactly as Spark's: NULL
#: is "no contribution", and sums run in decimal128(38, 0), so a total
#: outside the range of a long is seen rather than wrapped
_DRIVER_OPS = ("sum", "min", "max")
_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


def _driver_mergeable(doc: dict, fields) -> bool:
    """Whether the driver merges rows of ``fields`` with ``doc``'s
    merge exactly as Spark does: the key, and a latest-wins layout's
    order columns, are of ``_DRIVER_KEY_TYPES`` (strings under the
    binary collation) and every latest-wins column round-trips through
    Arrow (:func:`_round_trips`); a monoid's ops are ``_DRIVER_OPS``
    over longs."""
    types = {f.name: f.dataType for f in fields}

    def exact(c) -> bool:
        t = types.get(c)
        return isinstance(t, _DRIVER_KEY_TYPES) and (
            not isinstance(t, StringType) or t.collation == "UTF8_BINARY"
        )

    if not exact(doc["key"]):
        return False
    if "order" in doc:
        return all(exact(c) for c in doc["order"]) and all(
            _round_trips(t) for t in types.values()
        )
    return all(
        op in _DRIVER_OPS and isinstance(types.get(c), LongType)
        for c, op in doc["cols"].items()
    )


def _driver_fields(doc: dict) -> list[StructField] | None:
    """The columns ``read_state`` returns for a log-structured layout
    the driver merges (:func:`_driver_mergeable`), in the Spark merge's
    order and types; None for every other layout. Latest-wins keeps
    every recorded column but ``bucket``; a monoid keeps its key and
    state columns."""
    if "schema" not in doc:
        return None
    fields = [
        StructField(f.name, f.dataType, True)
        for f in StructType.fromJson(doc["schema"]).fields
        if f.name != "bucket"
    ]
    if not _driver_mergeable(doc, fields):
        return None
    if "order" in doc:
        return fields
    key = doc["key"]
    types = {f.name: f.dataType for f in fields}
    return [StructField(key, types[key], True)] + [
        StructField(c, LongType(), True) for c in doc["cols"]
    ]


def _verify_crc(path: str, body: bytes) -> None:
    """Check a data file against the ``.crc`` beside it, as Hadoop's
    checksummed filesystem does on every read: a file without one, or
    with a header that is not a checksum file's, is read unchecked; a
    mismatch raises."""
    d, name = os.path.split(path)
    try:
        with open(os.path.join(d, f".{name}.crc"), "rb") as f:
            crc = f.read()
    except FileNotFoundError:
        return
    if crc[:4] != b"crc\0" or len(crc) < 8:
        return
    chunk = struct.unpack(">i", crc[4:8])[0]
    if chunk > 0 and _hadoop_crc(body, chunk) != crc:
        raise OSError(
            f"org.apache.hadoop.fs.ChecksumException: Checksum error: file:{path}"
        )


def _read_segments(files, fields: list[StructField]):
    """Every row of ``files`` as one Arrow table through ``fields``: each
    file's bytes checked against its ``.crc``, parsed by pyarrow, a
    column it lacks filled with NULL and every column cast to its
    recorded type. None where a file holds what Spark reads otherwise
    than pyarrow (dates or INT96 timestamps Spark rebased from the
    Julian calendar) or a column does not cast."""
    target = to_arrow_schema(StructType(fields))
    parts = []
    decoded = 0
    for path, _size in files:
        with open(path, "rb") as f:
            body = f.read()
        _verify_crc(path, body)
        pf = pq.ParquetFile(pa.BufferReader(body), coerce_int96_timestamp_unit="us")
        if any(k.startswith(b"org.apache.spark.legacy") for k in pf.metadata.metadata or {}):
            return None
        present = set(pf.schema_arrow.names)
        got = pf.read(columns=[n for n in target.names if n in present], use_threads=False)
        try:
            parts.append(
                pa.Table.from_arrays(
                    [
                        got[f.name].cast(f.type)
                        if f.name in present
                        else pa.nulls(got.num_rows, f.type)
                        for f in target
                    ],
                    schema=target,
                )
            )
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
        decoded += parts[-1].nbytes
        if decoded > _DRIVER_DECODED_BYTES:
            return None
    return pa.concat_tables(parts) if parts else target.empty_table()


def _driver_merge(doc: dict, table):
    """``table`` folded to one row per key with the sidecar's merge, in
    Arrow, or None where only Spark's own overflow rule can give the
    answer (a sum past the range of a long)."""
    key = doc["key"]
    if "order" in doc:
        # latest-wins: Spark's struct ordering puts NULL below every
        # value, so descending it is NULLS LAST; the first row of each
        # key is its winner
        table = table.take(
            pc.sort_indices(
                table,
                sort_keys=[(key, "ascending")] + [(c, "descending") for c in doc["order"]],
                null_placement="at_end",
            )
        )
        pos = pa.table({key: table[key], "_p": np.arange(table.num_rows, dtype=np.int64)})
        return table.take(pos.group_by(key, use_threads=False).aggregate([("_p", "min")])["_p_min"])
    # a monoid; compaction keeps each key's max _b, the fence
    aggs = [*doc["cols"].items(), *([("_b", "max")] if "_b" in table.column_names else [])]
    for c, op in aggs:
        if op == "sum":
            i = table.schema.get_field_index(c)
            table = table.set_column(i, c, table[c].cast(pa.decimal128(38, 0)))
    g = table.group_by(key).aggregate(aggs)
    out = {key: g[key]}
    for c, op in aggs:
        v = g[f"{c}_{op}"]
        if op == "sum":
            span = pc.min_max(v).as_py()
            if span["min"] is not None and (span["min"] < _LONG_MIN or span["max"] > _LONG_MAX):
                return None
            v = v.cast(pa.int64())
        out[c] = v
    return pa.Table.from_arrays([out[n] for n in table.column_names], names=table.column_names)


def _arrow_frame(spark, table, schema: StructType) -> DataFrame:
    """``table`` as a DataFrame of ``schema``, handed to the JVM as one
    Arrow batch per core and decoded by the tasks that read it. Under
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark would
    make a local relation instead, decoding every row on the driver and
    shipping the rows inside the tasks: to create and materialise 132k
    merged state rows on four cores, 490-570 ms that way against 70-80
    ms this way."""
    step = max(1, -(-table.num_rows // spark.sparkContext.defaultParallelism))
    table = pa.Table.from_batches(table.combine_chunks().to_batches(step), table.schema)
    with pinned_confs(spark, {"spark.sql.execution.arrow.localRelationThreshold": "0"}):
        return spark.createDataFrame(table, schema)


def _driver_read(spark, state_dir: str, doc: dict) -> DataFrame | None:
    """``read_state`` of a small log-structured layout, merged on the
    driver (see ``read_state``), or None for the Spark read."""
    fields = _driver_fields(doc)
    if fields is None:
        return None
    files = [f for fs in _segment_files(state_dir).values() for f in fs]
    if sum(size for _path, size in files) >= _DRIVER_READ_BYTES:
        return None
    table = _read_segments(files, fields)
    if table is not None:
        table = _driver_merge(doc, table)
    if table is None:
        return None
    return _arrow_frame(spark, table, StructType(fields))


def read_state(spark, state_dir: str) -> DataFrame:
    """The maintained table, one row per key, layout/fencing columns
    dropped (bucket and _b are implementation details, not part of the
    keyed-state contract).

    Log-structured layouts (the ``_monoid.json`` sidecar is present)
    hold per-batch segments, and the read merges them per key with the
    sidecar's merge: the monoid ops, or latest-wins ``max_by`` over the
    order columns. Building the read launches no Spark job: the sidecar
    carries the union schema of every segment. The merge is keyed on
    the layout's key alone (not the bucket), so a rebucketed layout
    reads identically; for monoids NULL composes as "no contribution"
    exactly as in the fold. Layouts without a sidecar (immutable and
    index stores, one row per key) are read as they are, merging
    footers.

    A small layout is merged on the driver: one whose sidecar records
    its schema, whose segment files (one listing, hidden names skipped
    as Spark skips them) total under ``_DRIVER_READ_BYTES`` on disk and
    decode to at most ``_DRIVER_DECODED_BYTES`` in Arrow,
    whose key is of a type pyarrow groups and sorts as Spark does
    (``_DRIVER_KEY_TYPES``; so are latest-wins order columns, and every
    latest-wins column round-trips through Arrow) and whose monoid ops
    are ``sum``, ``min`` and ``max``. Every segment's bytes are read and
    checked against the ``.crc`` beside them, as Hadoop's checksummed
    filesystem checks them; a mismatch raises an error naming
    ``ChecksumException`` and the file. The segments are parsed by
    pyarrow through the sidecar's union schema and merged in Arrow:
    monoid sums in decimal128(38, 0), with the Spark read taken instead
    when a total leaves the range of a long, so the session's own
    overflow rule applies; latest-wins sorts by key, then the order
    columns descending with NULLs last (Spark's struct order puts NULL
    lowest), and keeps each key's first row. The result is a
    ``createDataFrame`` of the merged rows with the Spark read's
    columns and types: one job and no file opened by Spark when it is
    materialised. Local filesystem only, like the driver append.

    Snapshot: both reads take the layout's file list when the read is
    built. The Spark read opens the files when the frame runs; the
    driver read has read them by the time it returns.
    """
    doc = _read_sidecar(state_dir)
    if doc is not None:
        small = _driver_read(spark, state_dir, doc)
        if small is not None:
            return small
    df = _scan(spark, state_dir, doc).drop("bucket")
    if doc is not None:
        return _merge(doc, df)
    return df.drop("_b") if "_b" in df.columns else df


def probe_state(spark, state_dir: str, keys, on: str | None = None):
    """The standing rows of the buckets ``keys`` hash to, under a static
    ``bucket`` partition filter, or None before the first commit.

    ``keys`` is a DataFrame whose column ``on`` holds the keys (one
    bounded collect of at most ``n_buckets`` bucket ids), or driver-side
    values, bucketed with the ``spark_bucket`` twin (no job). The
    modulus is the layout's ``_n_buckets`` marker, so a rebucketed store
    is never probed with a stale count; a layout without one predates
    the marker and is read whole (callers join on the key, so extra
    buckets are only slower). Log-structured layouts read through their
    sidecar's union schema, the others as they are.

    Rows come back raw — ``bucket``, ``_b`` and every segment's version
    of a key — and the caller keeps what it needs: a latest-wins log can
    hold several versions of a key."""
    if not _has_state(state_dir):
        return None
    doc = _read_sidecar(state_dir)
    rows = _scan(spark, state_dir, doc) if doc else spark.read.parquet(state_dir)
    n_b = state_bucket_count(state_dir, 0)
    if not n_b:
        return rows
    if isinstance(keys, DataFrame):
        buckets = [
            r[0]
            for r in keys.select(F.pmod(F.xxhash64(on), F.lit(n_b)).cast("int"))
            .distinct()
            .collect()
        ]
    else:
        buckets = sorted(key_buckets(keys, n_b))
    return rows.filter(F.col("bucket").isin(buckets))


def key_buckets(keys, n_buckets: int) -> set[int]:
    """The buckets driver-side key values (Python ints for ``long``
    keys, strs for ``string`` keys) fall in under a layout of
    ``n_buckets``: the folds' ``pmod(xxhash64(key), n_buckets)``,
    computed without a Spark job by the ``spark_bucket`` twin. A caller
    holding a batch's keys passes the set as a fold's exact
    ``touched_hint``."""
    return {spark_bucket(k, n_buckets) for k in keys}


def rebucket_state(
    spark, state_dir: str, *, key: str, new_n_buckets: int
) -> tuple[int, ...]:
    """Migrate a bucketed state table to a new bucket count — the ops
    half of the layout: ``n_buckets`` is frozen into the directory at
    creation, and a keyspace that outgrows its bucket sizing needs ONE
    reshuffle, not a hand-rolled rewrite. Returns the new layout's
    bucket ids.

    One shuffle: read everything (through the sidecar's union schema,
    or merging footers — a mid-evolution layout migrates too),
    recompute ``bucket = pmod(xxhash64(key), new_B)``, write the new
    layout to a sibling staging directory, then swap directories.
    Every row — each segment of a log-structured layout, with the
    monoid fold's per-row ``_b`` fence stamp — and every sidecar
    (``_epoch``, ``_monoid.json``) is carried verbatim, so replay fencing survives: a replayed
    batch sees ``max(_b)`` per NEW bucket >= the stamp of every old
    bucket that contributed rows, and skips exactly as before.

    QUIESCE FIRST. The fence is per-bucket, so mixing rows from an old
    bucket stamped through batch N with rows from one stamped through
    N-1 (a crash mid-batch) makes the merged bucket's ``max(_b)`` lie
    for the lagging keys — a replay of batch N would be skipped for
    rows that never received it. Run this only with the stream stopped
    after a clean drain (every touched bucket stamped to the same
    frontier), which is also what makes the directory swap safe.

    The swap is two renames, not one atomic op: a crash in between
    leaves ``<state_dir>.rebucket.old`` holding the intact pre-
    migration state and possibly no ``state_dir`` — recovery is to
    rename it back. On an object store, do this as a table-format
    REPLACE instead; this is the local/HDFS layout-layer shape.
    """
    if not _has_state(state_dir):
        raise ValueError(f"no committed state at {state_dir}")
    df = _scan(spark, state_dir, _read_sidecar(state_dir)).drop("bucket")
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(new_n_buckets)).cast("int")
    )
    base = state_dir.rstrip("/")
    tmp, old = base + ".rebucket.tmp", base + ".rebucket.old"
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    out.repartition(new_n_buckets, F.col("bucket")).write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(tmp)
    # carry every top-level metadata sidecar (`_epoch`, the indexed-
    # label step's `_tomb_vmin.json`, ...) into the new layout verbatim
    # — a sidecar that stamps the bucket count it was written under
    # (and any correct sidecar must, since bucket-scoped facts do not
    # survive a re-bucket) reads as STALE afterwards and repairs itself
    # conservatively; silently DROPPING it instead would read as
    # "fresh state", which for the tomb-vmin bound means the migrated
    # tombstones are never probed again. `_SUCCESS` belongs to the new
    # write and `_n_buckets` is restamped below.
    for name in os.listdir(state_dir):
        src = os.path.join(state_dir, name)
        if (
            name.startswith("_")
            and name not in ("_SUCCESS", _LAYOUT_FILE)
            and os.path.isfile(src)
        ):
            shutil.copy2(src, os.path.join(tmp, name))
    with open(os.path.join(tmp, _LAYOUT_FILE), "w", encoding="utf-8") as f:
        f.write(str(new_n_buckets))
    os.rename(state_dir, old)
    os.rename(tmp, state_dir)
    shutil.rmtree(old)
    return tuple(
        sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(state_dir)
            if name.startswith("bucket=")
        )
    )
