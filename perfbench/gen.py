"""Deterministic input generator for the benchmark workloads.

The base tables have the schema and value domains of the engine's sf0.1
star schema (``FIXTURES.md`` F5): uniform TPC-H-ish keys and measures, an
``events`` stream, a 5000-row ``documents`` corpus over a 31-word
vocabulary with exact and `` dup``-suffixed near-duplicates, and 2000
unit-norm 64-d ``embeddings``. They come from a fixed seed, so every
workload run starts from the same base.

The run seed only sets the copies' key offsets: a workload scaled ``xN``
writes N copies of its scaled tables, one parquet part file per copy,
with every copy but the first shifted by a seed-derived offset. Every
table is a directory of part files, the layout Spark itself writes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Key columns shifted per copy; a table missing here is copied unchanged.
KEY_COLUMNS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# Copy stride: larger than any base key, so shifted copies never collide.
KEY_STRIDE = 1_000_000

_DAY_US = 86_400 * 1_000_000


def _pick(rng, choices, n) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng, start: str, end: str, n) -> pa.Array:
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i >= 100 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 100 and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, N_DOCUMENTS),
            "source": _pick(rng, [f"src{i}" for i in range(20)], N_DOCUMENTS),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = np.arange(0, N_EMBEDDINGS * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel(), pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The ten sf0.1-sized base tables, identical on every call."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": _names("Customer", N_CUSTOMER),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": _names("Supplier", N_SUPPLIER),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    pk = np.arange(N_PART)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART)
                    )
                ],
                pa.string(),
            ),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    n = N_LINEITEM
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = N_EVENTS
    gaps = rng.exponential(26.0, n) * 1_000_000
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(t0 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def copy_offsets(seed: int, copies: int) -> list[int]:
    """Key offset of each copy. The first copy keeps the base keys, which
    queries that pick rows by id rely on; every other copy is shifted by
    a seed-derived base plus a seed-permuted multiple of KEY_STRIDE, so
    copies never share a key."""
    rng = np.random.default_rng([seed, copies])
    base = int(rng.integers(1, KEY_STRIDE // 2))
    return [0] + [base + int(k) * KEY_STRIDE for k in rng.permutation(copies - 1) + 1]


def write_dataset(out_dir: str, scale: dict[str, int], seed: int) -> None:
    """Write every table under ``out_dir/<table>.parquet/``: tables named in
    ``scale`` as that many key-shifted copies, the rest once."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, table in base_tables().items():
        tdir = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(tdir)
        keys = KEY_COLUMNS.get(name, ())
        copies = scale.get(name, 1)
        offsets = copy_offsets(seed, copies)
        for c, off in enumerate(offsets):
            part = table
            for k in keys:
                col = part.column(k)
                shifted = pa.array(col.to_numpy() + off, col.type)
                part = part.set_column(part.schema.get_field_index(k), k, shifted)
            pq.write_table(
                part, os.path.join(tdir, f"part-{c:05d}.snappy.parquet"),
                compression="snappy",
            )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def alias_dir(data_dir: str, alias_root: str, name: str) -> str:
    """A private view of ``data_dir`` for one query: per-table directories
    of hard links, so path-keyed caches in the engine see a fresh source
    for every query while no bytes are copied."""
    dst = os.path.join(alias_root, name)
    shutil.rmtree(dst, ignore_errors=True)
    for table in tables(data_dir):
        src = os.path.join(data_dir, table)
        os.makedirs(os.path.join(dst, table))
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, table, f))
    return dst


def tables(data_dir: str) -> list[str]:
    return sorted(t for t in os.listdir(data_dir) if t.endswith(".parquet"))


def input_bytes(data_dir: str) -> int:
    """On-disk bytes of every table of the dataset."""
    return sum(
        os.path.getsize(os.path.join(data_dir, t, f))
        for t in tables(data_dir)
        for f in os.listdir(os.path.join(data_dir, t))
    )
