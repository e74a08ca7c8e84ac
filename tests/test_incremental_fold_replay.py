"""Replays of the three incremental-state queries' fold closures.

The registered queries check only the drained state of one clean
two-wave drain. Here each query's fold closure (bitmap distinct-users,
p-chart counts, Markov transitions) is driven directly over a small
fixed fixture with at-least-once delivery: every committed batch is
delivered again, an earlier batch comes back after later ones, and the
Markov fold also crashes between its two folds. The standing state
must equal pure-Python truth each time. A fresh checkpoint identity
pointed at standing monoid state must be refused.
"""

from __future__ import annotations

import datetime
from collections import Counter

import pytest

from hailstorm_spark.queries.streaming_queries import (
    _bitmap_fold_builder,
    _bitmap_readout,
    _markov_fold_builder,
    _markov_readout,
    _pchart_fold_builder,
)
from hailstorm_spark.streaming.statefold import read_state

SCHEMA = "event_id long, user_id long, event_type string, ts timestamp, value double"

_T0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

#: three time-ordered batches of (event_id, user_id, event_type,
#: day, minute, value); users 31/32/63/64 straddle bitmap words, values
#: fall on both sides of the p-chart range [0, 400]
BATCHES = [
    [
        (1, 1, "a", 0, 0, 10.0),
        (2, 1, "c", 0, 5, 500.0),
        (3, 2, "c", 0, 1, -1.0),
        (4, 31, "a", 0, 2, 400.0),
        (5, 32, "b", 1, 0, 0.0),
    ],
    [
        (6, 1, "a", 2, 0, 1.0),
        (7, 1, "b", 2, 3, 2.0),
        (8, 2, "a", 2, 1, 401.0),
        (9, 2, "b", 2, 4, 3.0),
        (10, 63, "a", 2, 2, 4.0),
    ],
    [
        (11, 1, "c", 3, 0, 5.0),
        (12, 64, "a", 3, 1, 900.0),
        (13, 2, "b", 4, 0, 6.0),
        (14, 31, "c", 4, 1, 7.0),
    ],
]


class _Chaos(RuntimeError):
    pass


def _events(batches):
    return [
        (eid, uid, et, _T0 + datetime.timedelta(days=d, minutes=m), v)
        for b in batches
        for eid, uid, et, d, m, v in b
    ]


def _deliveries():
    """Each batch once, then again (a replay after its commit); batch 0
    comes back once more after batch 2 (a stale replay)."""
    return [0, 0, 1, 1, 2, 2, 0]


def _drive(spark, fold, deliveries=None):
    for bid in deliveries or _deliveries():
        fold(spark.createDataFrame(_events([BATCHES[bid]]), SCHEMA), bid)


def test_bitmap_fold_replays_match_truth(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    _drive(spark, _bitmap_fold_builder(state_dir, "ckpt-a"))
    words: dict = {}
    for _, uid, _, ts, _ in _events(BATCHES):
        k = (ts.date(), uid // 32)
        words[k] = words.get(k, 0) | (1 << (uid % 32))
    got = {
        (r["k"]["day"], r["k"]["word"]): r["bits"]
        for r in read_state(spark, state_dir).collect()
    }
    assert got == words
    users: dict = {}
    for _, uid, _, ts, _ in _events(BATCHES):
        users.setdefault(ts.date(), set()).add(uid)
    assert {
        r["day"]: r["n_users_day"] for r in _bitmap_readout(spark, state_dir).collect()
    } == {d: len(u) for d, u in users.items()}
    with pytest.raises(Exception, match="epoch"):
        _drive(spark, _bitmap_fold_builder(state_dir, "ckpt-b"), [0])


def test_pchart_fold_replays_match_truth(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    _drive(spark, _pchart_fold_builder(state_dir, "ckpt-a"))
    want: dict = {}
    for _, _, _, ts, v in _events(BATCHES):
        n, nb = want.get(ts.date(), (0, 0))
        want[ts.date()] = (n + 1, nb + (not 0.0 <= v <= 400.0))
    got = {
        r["day"]: (r["n"], r["nb"]) for r in read_state(spark, state_dir).collect()
    }
    assert got == want
    with pytest.raises(Exception, match="epoch"):
        _drive(spark, _pchart_fold_builder(state_dir, "ckpt-b"), [0])


def _markov_truth():
    by_user: dict = {}
    for eid, uid, et, ts, _ in sorted(_events(BATCHES), key=lambda e: (e[3], e[0])):
        by_user.setdefault(uid, []).append(et)
    return Counter(
        (a, b) for seq in by_user.values() for a, b in zip(seq, seq[1:])
    )


def test_markov_fold_replays_and_midfold_crash_match_truth(spark, tmp_path):
    """Batch 1 crashes once between its transition fold and its
    last-event fold, and is retried; every batch is also delivered again
    after it commits, and batch 0 once more after batch 2."""
    trans_dir = str(tmp_path / "trans")
    fired = []

    def chaos(point, batch_id):
        if (point, batch_id) == ("between_folds", 1) and not fired:
            fired.append(batch_id)
            raise _Chaos("injected crash between the folds")

    fold = _markov_fold_builder(trans_dir, str(tmp_path / "last"), "ckpt-a", chaos)

    def deliver(batch_df, bid):
        try:
            fold(batch_df, bid)
        except _Chaos:
            fold(batch_df, bid)  # crash-retry: the same batch again

    _drive(spark, deliver)
    assert fired == [1]
    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in _markov_readout(spark, trans_dir).collect()
    }
    assert got == dict(_markov_truth())
    with pytest.raises(Exception, match="epoch"):
        _drive(
            spark,
            _markov_fold_builder(trans_dir, str(tmp_path / "last"), "ckpt-b"),
            [0],
        )
