"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from the run's
``--seed``: the same seed gives byte-identical inputs. Nothing is read
from outside the checkout.

- ``write_star_schema``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registered queries read,
  one parquet file per table, with the column names, types and value
  domains the queries and their DuckDB oracles expect.
- ``ZipfWords`` / ``write_word_file``: word-per-line text for the
  streaming word count (Zipf over a large vocabulary, rank 1 is the
  hot key ``hello``, like the reference's skewed input); the sampler
  keeps the exact count of every word it hands out.
- ``fold_batch``: one keyed batch for the state-fold workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(0, n_days, n)
    return pa.array(EPOCH_1995_US + (first_day + days) * DAY_US, pa.timestamp("us"))


def star_schema_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables of the star schema at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_orders
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days_us(rng, 0, 2404, n_orders),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days_us(rng, 1, 2499, n_line),
        }
    )
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(EPOCH_2024_US + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries'
            # positive cases
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_schema_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def vocabulary(n_words: int) -> list[str]:
    """``hello`` followed by ``n_words - 1`` distinct lower-case words."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ["hello"]
    i = 0
    while len(out) < n_words:
        n, w = i, ""
        for _ in range(4):
            n, r = divmod(n, 26)
            w += letters[r]
        out.append("w" + w)
        i += 1
    return out


class ZipfWords:
    """Draws words Zipf(``s``) over ``vocab``: rank 1 (``hello``) is the
    hot key. Keeps the exact count of every word it hands out."""

    def __init__(self, vocab: list[str], s: float, seed: int):
        self._cdf = zipf_cdf(len(vocab), s)
        self._vocab = np.array(vocab, dtype=object)
        self._rng = np.random.default_rng(seed)
        self.counts = np.zeros(len(vocab), dtype=np.int64)

    def draw(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self._cdf, self._rng.random(n), side="right")
        idx = np.minimum(idx, len(self._cdf) - 1)
        self.counts += np.bincount(idx, minlength=len(self._cdf))
        return self._vocab[idx]

    def top(self, k: int) -> list[tuple[str, int]]:
        """Exact top-k by (count desc, word asc), the sink's ordering."""
        nz = np.nonzero(self.counts)[0]
        pairs = sorted(
            ((self._vocab[i], int(self.counts[i])) for i in nz),
            key=lambda p: (-p[1], p[0]),
        )
        return pairs[:k]

    def as_dict(self) -> dict[str, int]:
        nz = np.nonzero(self.counts)[0]
        return {self._vocab[i]: int(self.counts[i]) for i in nz}


def write_word_file(words: np.ndarray, staging_dir: str, target: str) -> None:
    """Write one word per line, then rename into place, so a watching
    file source never lists a partly written file."""
    tmp = os.path.join(staging_dir, os.path.basename(target))
    with open(tmp, "w") as f:
        f.write("\n".join(words))
        f.write("\n")
    os.replace(tmp, target)


def zipf_cdf(n: int, s: float) -> np.ndarray:
    """Cumulative distribution of Zipf(``s``) over ranks 1..n."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return np.cumsum(w / w.sum())


def fold_batch(rng: np.random.Generator, cdf: np.ndarray, n_rows: int,
               batch_id: int) -> pa.Table:
    """One state-fold batch: ``key`` drawn from ``cdf`` (a Zipf over the
    key space), a ``v`` for the sum/min/max monoids, and
    ``(ts, uid, payload)`` for the latest-wins fold. ``(ts, uid)`` is
    unique across the run, so latest-wins is total."""
    n_keys = len(cdf)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_rows), side="right"), n_keys - 1)
    # scatter ranks over the key space so the hot keys do not share a
    # hash bucket by construction
    keys = (ranks * 2_654_435_761 + 12345) % n_keys
    uid = batch_id * n_rows + np.arange(n_rows)
    return pa.table(
        {
            "key": pa.array(keys, pa.int64()),
            "v": pa.array(rng.integers(-1_000_000, 1_000_000, n_rows), pa.int64()),
            "ts": pa.array(batch_id * 1_000 + rng.integers(0, 1_000, n_rows), pa.int64()),
            "uid": pa.array(uid, pa.int64()),
            "payload": pa.array(rng.integers(0, 1 << 40, n_rows), pa.int64()),
        }
    )
