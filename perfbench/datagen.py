"""Seeded generator for the benchmark's inputs.

Writes the ten catalog tables the queries read (a TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, and the change batches the medallion workload feeds through
the write path. The same seed always gives the same bytes' worth of
rows; nothing here touches Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(20, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_catalog(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for every catalog table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = _sizes(sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = customers(rng, np.arange(nc, dtype=np.int64))
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, ns)),
    })
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": _cents(900.0 + (np.arange(npart) % 1000) * 0.1),
    })
    tables["orders"] = orders(rng, np.arange(n["orders"], dtype=np.int64), nc)

    # lineitem: 1..7 lines per order, keys drawn from the dimensions
    no = n["orders"]
    per_order = rng.integers(1, 8, no)
    okeys = np.repeat(np.arange(no, dtype=np.int64), per_order)
    linenos = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    nl = len(okeys)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    part = rng.integers(0, npart, nl)
    odate = tables["orders"]["o_orderdate"].to_numpy().astype(np.int64)
    tables["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": part.astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": linenos,
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * (900.0 + (part % 1000) * 0.1) * rng.uniform(0.99, 2.1, nl)),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _ts(odate[okeys] + rng.integers(1, 122, nl) * _DAY_US),
    })

    ne = n["events"]
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _cents(rng.exponential(60.0, ne)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    tables["documents"] = documents(rng, n["documents"])

    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })

    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)
    return {name: t.num_rows for name, t in tables.items()}


def customers(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    count = len(keys)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{i:09d}" for i in keys],
        "c_nationkey": rng.integers(0, 25, count).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, count)),
        "c_mktsegment": _pick(rng, SEGMENTS, count),
    })


def orders(rng: np.random.Generator, keys: np.ndarray, n_customers: int) -> pa.Table:
    count = len(keys)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_customers, count).astype(np.int64),
        "o_orderstatus": _pick(rng, STATUSES, count),
        "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, count)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, count) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, count),
    })


def documents(rng: np.random.Generator, count: int) -> pa.Table:
    """Uniform bag-of-words documents; 5% are a near copy (one extra
    ``dup`` token) of an earlier document, so the near-dup graph,
    triangles and semantic dedup all have work to find."""
    lengths = rng.integers(10, 101, count)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for j in rng.choice(np.arange(count // 2, count), count // 20, replace=False):
        src = texts[int(rng.integers(0, j))].split(" ")
        src.insert(int(rng.integers(0, len(src) + 1)), "dup")
        texts[j] = " ".join(src)
    return pa.table({
        "doc_id": np.arange(count, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, count, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(count)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


@dataclass
class ChangeFeed:
    """Seeded change batches for one medallion source.

    Batch 0 is the initial load of every key. Batch ``c`` > 0 updates
    ``change_frac`` of the live keys, inserts a tenth as many new ones,
    and re-delivers 1% of its rows verbatim, so silver dedup has work.
    Every row of batch ``c`` carries an ``updated_at`` inside day ``c``,
    which keeps the watermark extract exact.
    """

    name: str
    keys: int
    change_frac: float
    seed: int

    def batch(self, cycle: int, n_customers: int) -> tuple[pa.Table, int]:
        """The batch of ``cycle`` and its number of distinct rows."""
        rng = np.random.default_rng([self.seed, 2, cycle, len(self.name)])
        live = self.keys + self._inserted_before(cycle)
        if cycle == 0:
            table = self._rows(rng, np.arange(self.keys, dtype=np.int64), n_customers)
        else:
            n_upd = int(self.keys * self.change_frac)
            upd = rng.choice(live, n_upd, replace=False).astype(np.int64)
            new = np.arange(live, live + n_upd // 10, dtype=np.int64)
            table = self._rows(rng, np.concatenate([upd, new]), n_customers)
        # updated_at lies strictly inside day `cycle`
        n = table.num_rows
        stamps = _EPOCH_2024 + cycle * _DAY_US + rng.integers(1, _DAY_US, n)
        table = table.append_column("updated_at", _ts(stamps))
        if cycle > 0:
            again = rng.choice(n, max(1, n // 100), replace=False)
            table = pa.concat_tables([table, table.take(pa.array(again))])
        return table, n

    def _inserted_before(self, cycle: int) -> int:
        return max(0, cycle - 1) * (int(self.keys * self.change_frac) // 10)

    def _rows(self, rng: np.random.Generator, keys: np.ndarray, n_customers: int) -> pa.Table:
        if self.name == "customer":
            return customers(rng, keys)
        return orders(rng, keys, n_customers)


def medallion_feeds(sf: float, seed: int, change_frac: float = 0.02) -> list[ChangeFeed]:
    n = _sizes(sf)
    return [
        ChangeFeed("customer", n["customer"], change_frac, seed),
        ChangeFeed("orders", n["orders"], change_frac, seed),
    ]


def write_batch(path: str, table: pa.Table) -> int:
    """Write one change batch; return its size in bytes."""
    _write(path, table)
    return os.path.getsize(path)
