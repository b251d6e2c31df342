"""Benchmark inputs: generated base tables, permuted by the run seed.

The base tables have the schemas of the project's test corpus (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) and are drawn from a FIXED generator seed, so every
run sees the same rows. The run seed only permutes the row order of
each table as it is written to the run's data directory: every check
the benchmark makes is order-insensitive, so two seeds must give
identical checked outputs while exercising different scan and
partition layouts.

At ``scale=0.1`` the tables have the sizes of the sf0.1 test corpus:
5,000 documents over a 30-word vocabulary (5% of them near-copies of
another document plus the token ``dup``), 2,000 64-d unit embeddings
in 10 weak clusters, 100,000 events, and 600,000 line items.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _n(base: int, scale: float) -> int:
    return max(1, round(base * scale / 0.1))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(scale: float, rng: np.random.Generator) -> pa.Table:
    n = _n(5000, scale)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = rng.choice(n, n // 20, replace=False)
    dup_set = set(dups.tolist())
    originals = np.array([i for i in range(n) if i not in dup_set])
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(scale: float, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    n = _n(2000, scale)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.6, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels,
    })


def events(scale: float, rng: np.random.Generator) -> pa.Table:
    n = _n(100_000, scale)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, _n(1500, scale), n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def tpch(scale: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = _n(15_000, scale), _n(1_000, scale)
    n_part, n_ord, n_line = _n(20_000, scale), _n(150_000, scale), _n(600_000, scale)
    base = EPOCH_1995.astype(np.int64)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string()),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}"
             for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist(), pa.string()),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord).tolist(), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(base + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string()),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line).tolist(), pa.string()),
        "l_shipdate": _ts(base + rng.integers(1, 2500, n_line) * DAY_US),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def base_tables(names: tuple[str, ...], scale: float) -> dict[str, pa.Table]:
    """The seed-independent base tables named in ``names``. Each family
    draws from its own generator stream, so asking for a subset gives
    the same rows as asking for everything."""
    out: dict[str, pa.Table] = {}
    families = (("documents", documents), ("embeddings", embeddings),
                ("events", events))
    for i, (name, fn) in enumerate(families):
        if name in names:
            out[name] = fn(scale, np.random.default_rng([GEN_SEED, i]))
    if any(n in names for n in ("region", "nation", "customer", "supplier",
                                "part", "orders", "lineitem")):
        tp = tpch(scale, np.random.default_rng([GEN_SEED, 99]))
        out.update({k: v for k, v in tp.items() if k in names})
    return out


def _make_scaled_sf(root: str):
    """The repository's ``scripts/make_scaled_sf.py`` as a module (it is
    a script, not a package member)."""
    path = os.path.join(root, "scripts", "make_scaled_sf.py")
    spec = importlib.util.spec_from_file_location("make_scaled_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replicate_documents(root: str, docs: pa.Table, k: int) -> pa.Table:
    """A ``k``-times replica corpus built with the repository's own
    scaler: replica ``i`` shifts ``doc_id`` by ``i * (max+1)`` and tags
    every 7th token, so cross-replica shingle overlap stays below the
    dedup threshold while within-replica near-duplicates survive."""
    mss = _make_scaled_sf(root)
    texts = docs.column("text").to_pylist()
    off = mss._offset(docs.column("doc_id"))

    def build(i: int) -> pa.Table:
        t = mss._shift(docs, "doc_id", off, i)
        idx = t.schema.get_field_index("text")
        return t.set_column(idx, t.schema.field(idx),
                            pa.array(mss._perturb_text(texts, i), pa.string()))

    return pa.concat_tables([build(i) for i in range(k)])


def write_permuted(tables: dict[str, pa.Table], data_dir: str, seed: int) -> None:
    """Write each table to ``data_dir/<name>.parquet`` with its rows in
    a seed-determined order."""
    os.makedirs(data_dir, exist_ok=True)
    for i, (name, tbl) in enumerate(sorted(tables.items())):
        order = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        pq.write_table(tbl.take(pa.array(order)), os.path.join(data_dir, f"{name}.parquet"))
