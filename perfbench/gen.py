"""Seeded input generation for the benchmark: fixture tables, oplog feeds
and the DuckDB last-writer-wins oracle over a generated oplog.

Nothing here touches Spark. The same seed always yields byte-identical
inputs; the program under test only ever sees the files written here.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark stream batch merge join hash row column table key value "
    "window group sort scan filter order part line customer data vector "
    "query agg big small fast slow"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.15, 0.14, 0.13, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: sf1 row counts of the TPC-H-like star schema (the fixture's own ratios)
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z


@dataclass(frozen=True)
class Traffic:
    """One oplog traffic mix. ``skew`` is the Zipf exponent over the key
    space (0 = uniform); the shares are fractions of all ops."""

    ops_per_file: int
    keys: int
    skew: float
    delete_share: float
    ddl_share: float
    noop_share: float


def _ts_us(seconds: np.ndarray) -> pa.Array:
    return pa.array((seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document, as the fixture has
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    vecs = centroids[label] + 0.5 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_fixture(out_dir: str, seed: int, sf: float, tables=None) -> dict[str, int]:
    """Write the fixture's ten tables (same names and schemas) at scale
    ``sf`` into ``out_dir``; returns ``{table: rows}``. ``tables`` limits
    the set written. Each table draws from its own seeded stream, so the
    rows of one table do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(10, int(v * sf)) for k, v in _SF1_ROWS.items()}
    n["documents"] = max(500, int(50_000 * sf))
    n["embeddings"] = max(500, int(20_000 * sf))
    users = max(150, int(15_000 * sf))
    wanted = set(tables) if tables is not None else None

    def rng_for(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    def build(name: str, i: int):
        r = rng_for(i)
        if name == "region":
            names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
            return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names})
        if name == "nation":
            return pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{k}" for k in range(25)],
                    "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
                }
            )
        if name == "customer":
            c = n[name]
            return pa.table(
                {
                    "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
                    "c_name": [f"Customer#{k:09d}" for k in range(c)],
                    "c_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
                    "c_acctbal": np.round(r.uniform(-999, 9999, c), 2),
                    "c_mktsegment": r.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
                    ),
                }
            )
        if name == "supplier":
            s = n[name]
            return pa.table(
                {
                    "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
                    "s_name": [f"Supplier#{k:09d}" for k in range(s)],
                    "s_nationkey": pa.array(r.integers(0, 25, s).astype(np.int32)),
                    "s_acctbal": np.round(r.uniform(-999, 9999, s), 2),
                }
            )
        if name == "part":
            p = n[name]
            adj = ["blue", "hot", "small", "old", "red", "new", "large", "cold"]
            noun = ["bolt", "gear", "anvil", "ring", "nut", "spring"]
            return pa.table(
                {
                    "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
                    "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, p), r.choice(noun, p))],
                    "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
                    "p_type": r.choice(
                        ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], p
                    ),
                    "p_size": pa.array(r.integers(1, 51, p).astype(np.int32)),
                    "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
                }
            )
        if name == "orders":
            o = n[name]
            return pa.table(
                {
                    "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
                    "o_custkey": pa.array(r.integers(0, n["customer"], o).astype(np.int64)),
                    "o_orderstatus": r.choice(["O", "F", "P"], o),
                    "o_totalprice": np.round(r.uniform(900, 500_000, o), 2),
                    "o_orderdate": _ts_us(_EPOCH_1995 + r.integers(0, 2404, o) * 86400.0),
                    "o_orderpriority": r.choice(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
                    ),
                }
            )
        if name == "lineitem":
            m = n[name]
            return pa.table(
                {
                    "l_orderkey": pa.array(r.integers(0, n["orders"], m).astype(np.int64)),
                    "l_partkey": pa.array(r.integers(0, n["part"], m).astype(np.int64)),
                    "l_suppkey": pa.array(r.integers(0, n["supplier"], m).astype(np.int64)),
                    "l_linenumber": pa.array(r.integers(1, 8, m).astype(np.int32)),
                    "l_quantity": r.integers(1, 51, m).astype(np.float64),
                    "l_extendedprice": np.round(r.uniform(900, 100_000, m), 2),
                    "l_discount": np.round(r.integers(0, 11, m) * 0.01, 2),
                    "l_tax": np.round(r.integers(0, 9, m) * 0.01, 2),
                    "l_returnflag": r.choice(["A", "N", "R"], m),
                    "l_linestatus": r.choice(["O", "F"], m),
                    "l_shipdate": _ts_us(_EPOCH_1995 + r.integers(1, 2500, m) * 86400.0),
                }
            )
        if name == "events":
            e = n[name]
            return pa.table(
                {
                    "event_id": pa.array(np.arange(e, dtype=np.int64)),
                    "ts": _ts_us(_EPOCH_2024 + np.round(r.uniform(0, 30 * 86400, e), 6)),
                    "user_id": pa.array(r.integers(0, users, e).astype(np.int64)),
                    "event_type": r.choice(EVENT_TYPES, e),
                    "value": np.round(r.uniform(0.01, 500, e), 2),
                    "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
                }
            )
        if name == "documents":
            return _documents(r, n[name])
        if name == "embeddings":
            return _embeddings(r, n[name])
        raise KeyError(name)

    rows: dict[str, int] = {}
    for i, name in enumerate(TABLE_NAMES):
        if wanted is not None and name not in wanted:
            continue
        table = build(name, i)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


#: the fixture's table names, in the order their seeded streams are drawn
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# ---------------------------------------------------------------------------
# oplog feeds
# ---------------------------------------------------------------------------

FEED_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("op", pa.string()),
        ("ns", pa.string()),
        ("value", pa.float64()),
        ("o", pa.string()),
    ]
)


def make_ops(traffic: Traffic, n_ops: int, seed: int) -> dict[str, np.ndarray]:
    """``n_ops`` oplog rows as column arrays (no ``ts``: the caller stamps
    it). ``id`` is the global ordinal, 0..n_ops-1, and orders the stream.
    Hot keys are scattered over the key space by a seeded permutation, so
    skew does not line up with key order."""
    rng = np.random.default_rng([seed, 1000])
    if traffic.skew > 0:
        weights = 1.0 / np.arange(1, traffic.keys + 1) ** traffic.skew
        ranks = rng.choice(traffic.keys, size=n_ops, p=weights / weights.sum())
        keys = rng.permutation(traffic.keys)[ranks]
    else:
        keys = rng.integers(0, traffic.keys, size=n_ops)
    u = rng.random(n_ops)
    c_cut = traffic.ddl_share
    n_cut = c_cut + traffic.noop_share
    d_cut = n_cut + traffic.delete_share
    i_cut = d_cut + (1.0 - d_cut) / 2
    op = np.where(
        u < c_cut, "c", np.where(u < n_cut, "n", np.where(u < d_cut, "d", np.where(u < i_cut, "i", "u")))
    )
    keys = keys.astype(np.int64)
    ns = np.char.add(
        np.char.add("db", (keys % 4).astype(str)), np.char.add(".c", (keys % 16).astype(str))
    )
    payload = rng.integers(0, 100, size=n_ops)
    o = np.where(
        op == "c",
        np.char.add('{"create": "c', np.char.add(payload.astype(str), '"}')),
        np.char.add('{"k": ', np.char.add(payload.astype(str), "}")),
    )
    return {
        "id": np.arange(n_ops, dtype=np.int64),
        "user_id": keys,
        "op": op,
        "ns": ns,
        "value": np.round(rng.uniform(0.01, 500, n_ops), 2),
        "o": o,
    }


def ops_table(ops: dict[str, np.ndarray], lo: int, hi: int, ts_seconds: np.ndarray) -> pa.Table:
    """Rows ``[lo, hi)`` of ``ops`` as a feed table, ``ts`` from the given
    epoch seconds (one per row)."""
    return pa.table(
        {
            "id": ops["id"][lo:hi],
            "ts": _ts_us(ts_seconds),
            "user_id": ops["user_id"][lo:hi],
            "op": ops["op"][lo:hi],
            "ns": ops["ns"][lo:hi],
            "value": ops["value"][lo:hi],
            "o": ops["o"][lo:hi],
        },
        schema=FEED_SCHEMA,
    )


def write_feed_file(feed_dir: str, index: int, table: pa.Table, mtime: float | None = None) -> str:
    """Publish one feed file atomically: write it under a hidden name (the
    file source skips names starting with ``.``), then rename. A reader
    therefore never admits a partial file. Returns the final path."""
    name = f"part-{index:06d}.parquet"
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    final = os.path.join(feed_dir, name)
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, final)
    return final


def write_backlog(feed_dir: str, ops: dict[str, np.ndarray], ops_per_file: int) -> int:
    """The whole of ``ops`` as a backlog of feed files, ``ts`` one second
    apart per op, mtimes strictly increasing in stream order (the file
    source admits oldest first). Returns the file count."""
    os.makedirs(feed_dir, exist_ok=True)
    n = len(ops["id"])
    n_files = math.ceil(n / ops_per_file)
    base = _EPOCH_2024 - n_files - 10
    for k in range(n_files):
        lo, hi = k * ops_per_file, min(n, (k + 1) * ops_per_file)
        ts = _EPOCH_2024 + np.arange(lo, hi, dtype=np.float64)
        write_feed_file(feed_dir, k, ops_table(ops, lo, hi, ts), mtime=base + k)
    return n_files


# ---------------------------------------------------------------------------
# oracles and statistics
# ---------------------------------------------------------------------------

def lww_oracle(ops: dict[str, np.ndarray], n_ops: int | None = None) -> list[tuple]:
    """Expected visible state after applying ``ops[:n_ops]``: per
    ``user_id`` the i/u/d op with the highest ``id`` wins, deletes hide
    the key, c/n ops are ignored. Sorted ``(user_id, value, id)`` rows,
    computed by DuckDB."""
    import duckdb

    n = len(ops["id"]) if n_ops is None else n_ops
    t = pa.table({k: ops[k][:n] for k in ("id", "user_id", "op", "value")})
    con = duckdb.connect()
    try:
        con.register("ops", t)
        return con.execute(
            """
            SELECT user_id, value, id FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY id DESC) AS rn
              FROM ops WHERE op IN ('i', 'u', 'd'))
            WHERE rn = 1 AND op <> 'd'
            ORDER BY user_id
            """
        ).fetchall()
    finally:
        con.close()


#: percentiles considered for the tail report, highest last
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` in ``n`` samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("percentile of an empty sample")
    return sorted_vals[_rank(len(sorted_vals), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def top_supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of ``PERCENTILES`` with at least ``min_beyond`` samples
    beyond it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= min_beyond:
            best = p
    return best
