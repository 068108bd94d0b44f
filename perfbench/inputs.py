"""Seeded input generator for the benchmark workloads.

Every input the engine receives is made here from ``(seed, scale)``: the
ten fixture tables (same schemas and value domains as the corpus fixtures
described in FIXTURES.md), the CDC change batches, and the CCD list. The
same seed gives byte-identical parquet; a different seed draws different
keys, values and texts at the same row counts, so the amount of work a
run does is fixed by the scale alone.

Row counts follow the fixture convention (lineitem = 6e6 * sf).
``tile_tables`` widens a generated base by replica tiling with the
helpers of ``tools/gen_scale_fixtures.py`` (imported, not copied).
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    pnames = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": _pick(rng, pnames, np_),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(rng, _PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    # like TPC-H, customers whose key is a multiple of 3 place no orders
    buyers = np.arange(nc)
    buyers = buyers[buyers % 3 != 0] if nc > 2 else buyers
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), no)], pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, span_days + 1, no) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, span_days + 96, nl) * _DAY_US),
    })
    ne = n["events"]
    # strictly increasing timestamps: every (user, ts) pair is unique,
    # which the last-state and lag/lead queries assume
    gaps = rng.integers(1, max(2, 2 * 30 * _DAY_US // ne), ne)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024, np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": _pick(rng, _EVENTS, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = []
    for _ in range(nd):
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        if rng.random() < 0.05:  # near-duplicate marker tokens
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    for i in rng.choice(nd, max(1, nd // 500), replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % nd]
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _tiling_module():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "gen_scale_fixtures.py",
    )
    spec = importlib.util.spec_from_file_location("gen_scale_fixtures", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tile_tables(tables: dict[str, pa.Table], tiles: int,
                keep: tuple[str, ...] = ()) -> dict[str, pa.Table]:
    """Replica-tile every table ``tiles`` times with the fixture tiler's
    key offsets, text tags and embedding rolls (dimension tables and the
    tables named in ``keep`` stay as they are)."""
    if tiles <= 1:
        return tables
    mod = _tiling_module()
    out = {}
    for name, table in tables.items():
        if name in mod.COPY_ONLY or name in keep:
            out[name] = table
        else:
            out[name] = pa.concat_tables(mod._tile(table, name, i) for i in range(tiles))
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- CDC inputs ----------------------------------------------------------------

#: the bootstrap's CCDs, in submission order, with each table's primary key
CCD_TABLES = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
}
LINEITEM_PK = ["l_orderkey", "l_linenumber"]


@dataclass
class ChangeBatch:
    """One keyed DML batch against ``orders``: rows carry the orders
    columns plus ``type`` (update/delete) and ``ts`` (the batch number)."""

    number: int
    rows: pa.Table


def make_change_batches(
    seed: int, orders: pa.Table, n_batches: int, batch_keys: int,
    delete_share: float = 0.1,
) -> list[ChangeBatch]:
    """Keyed change batches over ``orders``: updates plus about
    ``delete_share`` deletes, keys drawn with a recency skew (recent
    order keys are hotter), and no key touched after its delete."""
    rng = np.random.default_rng(seed + 1_000_003)
    keys = orders.column("o_orderkey").to_numpy()
    alive = np.ones(len(keys), dtype=bool)
    # recency skew: weight grows with the key's position (newest hottest)
    weight = np.linspace(0.2, 1.0, len(keys)) ** 2
    batches = []
    for b in range(n_batches):
        p = weight * alive
        take = rng.choice(len(keys), batch_keys, replace=False, p=p / p.sum())
        is_delete = rng.random(batch_keys) < delete_share
        alive[take[is_delete]] = False
        rows = orders.take(pa.array(take))
        price = np.round(rng.uniform(1000.0, 500_000.0, batch_keys), 2)
        rows = rows.set_column(rows.schema.get_field_index("o_totalprice"),
                               "o_totalprice", pa.array(price))
        rows = rows.append_column(
            "type", pa.array(np.where(is_delete, "delete", "update").astype(object), pa.string()))
        rows = rows.append_column("ts", pa.array(np.full(batch_keys, b), pa.int64()))
        batches.append(ChangeBatch(b, rows))
    return batches
