"""Randomized scrambled-arrival replays for the CDC keyed-state fold
family (VERDICT r8 item 6): the registered queries check only the
FINAL table against the oracle on a fixed two-wave split, so the
tombstone-vs-resurrection contract the docstring argues — a late
DUPLICATE of an older change must lose to a newer delete's tombstone —
was never adversarially exercised.

Each replay builds a random per-key change log (upserts + deletes with
a total (ts_us, event_id) commit order), cuts every key's log into
contiguous segments assigned to increasing waves (per-key commit order
preserved — the CDC log-offset condition), interleaves keys across
waves differently per seed, and re-delivers a random subset of changes
into arbitrary waves — including waves AFTER the key's delete
(at-least-once duplicates, the exact hazard tombstones exist for). The folded state must equal the pure-Python truth: per key
the max-(ts_us, event_id) change, absent when that change is a delete.

The induced-bug test proves the harness has teeth: a mutant fold that
applies deletes as PHYSICAL ABSENCE (drops tombstone rows from state)
resurrects a deleted key from a late duplicate and goes red on the
planted adversarial case.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hailstorm_spark.streaming.statefold import bucketed_latest_fold, read_state

SCHEMA = "user_id long, event_id long, ts_us long, is_delete boolean, cents long"


def _gen_log(rng: random.Random, n_keys: int, n_waves: int):
    """Per-key ordered change logs cut into wave-assigned segments,
    plus late duplicates. Returns (waves, truth) where waves is a list
    of row-lists and truth maps key -> final row or None (deleted)."""
    eid = 0
    waves: list[list[tuple]] = [[] for _ in range(n_waves)]
    truth: dict[int, tuple | None] = {}
    for k in range(n_keys):
        n_changes = rng.randint(1, 8)
        rows = []
        ts = rng.randint(0, 50)
        for _ in range(n_changes):
            ts += rng.randint(1, 100)
            is_del = rng.random() < 0.3
            rows.append((k, eid, ts, is_del, rng.randint(0, 10_000)))
            eid += 1
        # cut into contiguous segments over non-decreasing wave ids
        w = rng.randrange(n_waves)
        for row in rows:
            waves[w].append(row)
            if rng.random() < 0.5 and w < n_waves - 1:
                w += rng.randint(0, n_waves - 1 - w)
        last = rows[-1]
        truth[k] = None if last[3] else last
        # at-least-once: re-deliver some non-final changes later
        for row in rows[:-1]:
            if rng.random() < 0.35:
                waves[rng.randrange(n_waves)].append(row)
    # planted adversarial case: upsert, then delete, then a LATE
    # duplicate of the upsert in the final wave — the resurrection trap
    k = n_keys
    waves[0].append((k, eid, 10, False, 777))
    up_dup = (k, eid, 10, False, 777)
    waves[min(1, n_waves - 1)].append((k, eid + 1, 20, True, 0))
    waves[n_waves - 1].append(up_dup)
    truth[k] = None
    for w in waves:
        rng.shuffle(w)
    return waves, truth


def _final(spark, state_dir):
    return {
        r["user_id"]: (
            r["user_id"], r["event_id"], r["ts_us"], r["is_delete"], r["cents"]
        )
        for r in read_state(spark, state_dir).filter(~F.col("is_delete")).collect()
    }


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_scrambled_arrival_replay_matches_python_truth(spark, tmp_path, seed):
    rng = random.Random(seed)
    waves, truth = _gen_log(rng, n_keys=40, n_waves=5)
    state_dir = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        state_dir, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=8
    )
    for i, w in enumerate(waves):
        if w:
            fold(spark.createDataFrame(w, SCHEMA), i)
    got = _final(spark, state_dir)
    want = {k: row for k, row in truth.items() if row is not None}
    assert got == want


def test_physical_absence_deletes_resurrect_and_go_red(spark, tmp_path):
    """The mutant: deletes applied as physical absence (tombstone rows
    filtered OUT of the persisted state). The planted late-duplicate
    case must then resurrect the deleted key — proving the replay
    harness detects exactly the bug class the tombstone carry
    prevents."""
    rng = random.Random(99)
    waves, truth = _gen_log(rng, n_keys=10, n_waves=4)
    state_dir = str(tmp_path / "state")
    fold = bucketed_latest_fold(
        state_dir, key="user_id", order_cols=("ts_us", "event_id"), n_buckets=8
    )

    def mutant_fold(batch_df, batch_id):
        fold(batch_df, batch_id)
        # strip tombstones from the persisted state: physical absence
        s = batch_df.sparkSession
        live = s.read.parquet(state_dir).filter(~F.col("is_delete"))
        live.persist().count()
        saved = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            live.write.partitionBy("bucket").mode("overwrite").parquet(state_dir)
        finally:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
            live.unpersist()

    for i, w in enumerate(waves):
        if w:
            mutant_fold(spark.createDataFrame(w, SCHEMA), i)
    got = _final(spark, state_dir)
    planted_key = 10  # n_keys — the planted resurrection trap
    assert truth[planted_key] is None
    assert planted_key in got, (
        "mutant did not resurrect — the replay lost its teeth"
    )
    want = {k: row for k, row in truth.items() if row is not None}
    assert got != want


# ---------------------------------------------- additive fence replays


@pytest.mark.parametrize("seed", [11, 12])
def test_additive_fold_random_replay_storm_never_double_adds(
    spark, tmp_path, seed
):
    """Random batch sequence where after every commit a coin-flip
    redelivers a random EARLIER batch (at-least-once, including
    long-stale replays arriving many batches late). The per-bucket
    batch_id fence must make every redelivery a no-op: the final state
    equals the sum over the unique batches, computed in pure Python."""
    from hailstorm_spark.streaming.statefold import (
        bucketed_monoid_fold,
        read_state,
    )

    rng = random.Random(seed)
    state_dir = str(tmp_path / "state")
    fold = bucketed_monoid_fold(
        state_dir, key="user_id", cols={"one": "sum", "cents": "sum"}, n_buckets=8
    )
    schema = "user_id long, one long, cents long"
    batches = []
    truth: dict[int, list[int]] = {}
    for bid in range(6):
        rows = [
            (rng.randrange(12), 1, rng.randint(-50, 100))
            for _ in range(rng.randint(1, 10))
        ]
        batches.append(rows)
        fold(spark.createDataFrame(rows, schema), bid)
        for u, one, cents in rows:
            t = truth.setdefault(u, [0, 0])
            t[0] += one
            t[1] += cents
        while rng.random() < 0.5:
            rb = rng.randrange(bid + 1)  # replay any earlier-or-current batch
            fold(spark.createDataFrame(batches[rb], schema), rb)
    got = {
        r["user_id"]: [r["one"], r["cents"]]
        for r in read_state(spark, state_dir).collect()
    }
    assert got == truth


# ------------------------------------------- rebucket mid-sequence


@pytest.mark.parametrize("seed", [21, 22])
def test_latest_fold_replay_with_random_rebucket_points(spark, tmp_path, seed):
    """The scrambled-arrival replay with RANDOM quiesced re-bucketing
    interleaved between waves: after any wave, a coin-flip migrates
    the standing table to a random new bucket count (up or down,
    possibly repeatedly), and subsequent waves fold through the new
    layout. Every migration must preserve the read_state rows exactly,
    and the final table must still equal the pure-Python truth —
    tombstones, late duplicates and all."""
    from hailstorm_spark.streaming.statefold import rebucket_state

    rng = random.Random(seed)
    waves, truth = _gen_log(rng, n_keys=30, n_waves=5)
    state_dir = str(tmp_path / "state")
    n_buckets = 8
    migrations = 0
    for i, w in enumerate(waves):
        if w:
            bucketed_latest_fold(
                state_dir,
                key="user_id",
                order_cols=("ts_us", "event_id"),
                n_buckets=n_buckets,
            )(spark.createDataFrame(w, SCHEMA), i)
        if rng.random() < 0.6:
            before = {
                tuple(r) for r in read_state(spark, state_dir).collect()
            }
            n_buckets = rng.choice([2, 4, 16, 32])
            rebucket_state(
                spark, state_dir, key="user_id", new_n_buckets=n_buckets
            )
            after = {tuple(r) for r in read_state(spark, state_dir).collect()}
            assert after == before, f"migration to B={n_buckets} changed rows"
            migrations += 1
    assert migrations > 0, "fixture never migrated — replay is vacuous"
    got = _final(spark, state_dir)
    want = {k: row for k, row in truth.items() if row is not None}
    assert got == want


@pytest.mark.parametrize("seed", [31])
def test_additive_replay_storm_with_rebucket_keeps_fence(spark, tmp_path, seed):
    """The additive no-double-add storm with quiesced migrations in the
    loop: replays of batches committed BEFORE a migration arrive AFTER
    it and must still be fenced (per-row _b stamps carry through the
    reshuffle, and max(_b) per NEW bucket is >= every contributing old
    bucket's stamp). Final sums equal the unique-batch Python truth."""
    from hailstorm_spark.streaming.statefold import (
        bucketed_monoid_fold,
        read_state,
        rebucket_state,
    )

    rng = random.Random(seed)
    state_dir = str(tmp_path / "state")
    n_buckets = 8
    schema = "user_id long, one long, cents long"
    batches = []
    truth: dict[int, list[int]] = {}
    migrations = 0
    for bid in range(8):
        fold = bucketed_monoid_fold(
            state_dir, key="user_id", cols={"one": "sum", "cents": "sum"},
            n_buckets=n_buckets, epoch="ckpt",
        )
        rows = [
            (rng.randrange(12), 1, rng.randint(-50, 100))
            for _ in range(rng.randint(1, 10))
        ]
        batches.append(rows)
        fold(spark.createDataFrame(rows, schema), bid)
        for u, one, cents in rows:
            t = truth.setdefault(u, [0, 0])
            t[0] += one
            t[1] += cents
        # quiesced migration point (all committed batches applied)
        if rng.random() < 0.5:
            n_buckets = rng.choice([2, 4, 16])
            rebucket_state(
                spark, state_dir, key="user_id", new_n_buckets=n_buckets
            )
            migrations += 1
        # at-least-once storm, possibly replaying across the migration
        while rng.random() < 0.6:
            rb = rng.randrange(bid + 1)
            bucketed_monoid_fold(
                state_dir, key="user_id", cols={"one": "sum", "cents": "sum"},
                n_buckets=n_buckets, epoch="ckpt",
            )(spark.createDataFrame(batches[rb], schema), rb)
    assert migrations > 0, "fixture never migrated — replay is vacuous"
    got = {
        r["user_id"]: [r["one"], r["cents"]]
        for r in read_state(spark, state_dir).collect()
    }
    assert got == truth


@pytest.mark.parametrize("seed", [41, 42])
def test_latest_fold_gauntlet_scramble_rebucket_and_evolution(
    spark, tmp_path, seed
):
    """All three ops events in one randomized storm: scrambled arrival
    + late duplicates, quiesced re-bucketing at random points, AND a
    schema evolution at a random wave (every row from then on carries
    a new column; standing rows NULL-fill through the batch schema).
    Truth is pure Python: per key the max-(ts_us, event_id) change,
    with the new column's value iff that winning change was delivered
    post-evolution FIRST (late duplicates of pre-evolution changes
    redelivered post-evolution carry their original payload and NULL
    country — the generator tags each physical delivery)."""
    from hailstorm_spark.streaming.statefold import rebucket_state

    rng = random.Random(seed)
    waves, truth = _gen_log(rng, n_keys=25, n_waves=6)
    evolve_at = rng.randrange(1, 5)
    ev_schema = SCHEMA + ", country string"

    # the evolution is a property of the DELIVERY, not the change: a
    # change first delivered in wave >= evolve_at carries country
    # "C<key>"; its duplicates keep whatever the FIRST delivery carried
    # only if redelivered identically — here we model the upstream
    # re-sending the same evolved/unevolved payload it sent first, so
    # truth is: winning change's country = "C<key>" iff EVERY wave
    # containing it is >= evolve_at... to keep truth deterministic we
    # simply give ALL deliveries of a change the same country value,
    # chosen by its EARLIEST wave (the upstream's send-time schema).
    first_wave: dict[int, int] = {}
    for i, w in enumerate(waves):
        for row in w:
            eid = row[1]
            first_wave[eid] = min(first_wave.get(eid, 99), i)

    def with_country(row):
        country = f"C{row[0]}" if first_wave[row[1]] >= evolve_at else None
        return (*row, country)

    state_dir = str(tmp_path / "state")
    n_buckets = 8
    migrations = 0
    for i, w in enumerate(waves):
        if w:
            fold = bucketed_latest_fold(
                state_dir,
                key="user_id",
                order_cols=("ts_us", "event_id"),
                n_buckets=n_buckets,
            )
            if i >= evolve_at:
                fold(
                    spark.createDataFrame([with_country(r) for r in w], ev_schema),
                    i,
                )
            else:
                fold(spark.createDataFrame(w, SCHEMA), i)
        if rng.random() < 0.5:
            n_buckets = rng.choice([4, 16, 32])
            rebucket_state(
                spark, state_dir, key="user_id", new_n_buckets=n_buckets
            )
            migrations += 1
    assert migrations > 0, "fixture never migrated — gauntlet is vacuous"

    got = {
        r["user_id"]: (
            r["user_id"], r["event_id"], r["ts_us"], r["is_delete"],
            r["cents"], r["country"],
        )
        for r in read_state(spark, state_dir)
        .filter(~F.col("is_delete"))
        .collect()
    }
    want = {}
    for k, row in truth.items():
        if row is None:
            continue
        country = f"C{row[0]}" if first_wave[row[1]] >= evolve_at else None
        want[k] = (*row, country)
    assert got == want
    # non-vacuous: both schema eras are represented among the winners
    eras = {v[5] is None for v in want.values()}
    assert eras == {True, False}, f"evolution plant degenerate: {eras}"


# ------------------------------------------- monoid fold storms (r11)


@pytest.mark.parametrize("seed", [51, 52])
def test_monoid_fold_replay_storm_with_rebucket(spark, tmp_path, seed):
    """The additive storm generalized to NON-sum monoids: min/max/
    bit_or state under at-least-once redelivery (including replays
    arriving across quiesced migrations). min/max are non-invertible —
    a double-applied batch would be INVISIBLE to them (idempotent ops
    mask the bug the fence prevents), so the sum column rides along as
    the canary, and the Python truth folds each unique batch exactly
    once across all four ops."""
    from hailstorm_spark.streaming.statefold import (
        bucketed_monoid_fold,
        read_state,
        rebucket_state,
    )

    rng = random.Random(seed)
    state_dir = str(tmp_path / "state")
    n_buckets = 8
    schema = "user_id long, n long, mn long, mx long, bits long"
    cols = {"n": "sum", "mn": "min", "mx": "max", "bits": "bit_or"}

    def mk_fold(nb):
        return bucketed_monoid_fold(
            state_dir, key="user_id", cols=cols, n_buckets=nb, epoch="ckpt"
        )

    batches = []
    truth: dict[int, list[int]] = {}
    migrations = 0
    for bid in range(8):
        rows = [
            (
                rng.randrange(12),
                1,
                (v := rng.randint(-500, 500)),
                v,
                1 << rng.randrange(8),
            )
            for _ in range(rng.randint(1, 10))
        ]
        batches.append(rows)
        mk_fold(n_buckets)(spark.createDataFrame(rows, schema), bid)
        for u, n, mn, mx, bits in rows:
            t = truth.setdefault(u, [0, None, None, 0])
            t[0] += n
            t[1] = mn if t[1] is None else min(t[1], mn)
            t[2] = mx if t[2] is None else max(t[2], mx)
            t[3] |= bits
        if rng.random() < 0.5:
            n_buckets = rng.choice([2, 4, 16])
            rebucket_state(
                spark, state_dir, key="user_id", new_n_buckets=n_buckets
            )
            migrations += 1
        while rng.random() < 0.6:
            rb = rng.randrange(bid + 1)
            mk_fold(n_buckets)(spark.createDataFrame(batches[rb], schema), rb)
    assert migrations > 0, "fixture never migrated — storm is vacuous"
    got = {
        r["user_id"]: [r["n"], r["mn"], r["mx"], r["bits"]]
        for r in read_state(spark, state_dir).collect()
    }
    assert got == truth


def test_unfenced_monoid_fold_double_add_goes_red(spark, tmp_path):
    """Teeth: a mutant fold with the fence disabled (standing rows
    re-merged regardless of _b) must diverge from the truth on the sum
    canary under a redelivered batch — proving the storm detects
    exactly the double-application class the fence prevents."""
    from hailstorm_spark.streaming.statefold import (
        bucketed_monoid_fold,
        read_state,
    )

    state_dir = str(tmp_path / "state")
    schema = "user_id long, n long, mn long, mx long, bits long"
    fold = bucketed_monoid_fold(
        state_dir,
        key="user_id",
        cols={"n": "sum", "mn": "min", "mx": "max", "bits": "bit_or"},
        n_buckets=4,
    )
    batch = spark.createDataFrame([(1, 1, 5, 5, 2)], schema)
    fold(batch, 0)
    # the mutant: redeliver under a FRESH batch id, simulating a fold
    # whose fence was keyed wrongly — the merge itself cannot tell a
    # replay from new data, so the sum canary must double while
    # min/max/bit_or silently absorb it
    fold(batch, 1)
    row = read_state(spark, state_dir).collect()[0]
    assert row["n"] == 2, "double application was not visible on the canary"
    assert (row["mn"], row["mx"], row["bits"]) == (5, 5, 2), (
        "idempotent ops should absorb the replay silently — that is WHY "
        "the canary exists"
    )
