"""Deterministic fixture generator for the benchmark.

Writes the engine's ten catalog tables (``catalog.TABLES``) as one
Parquet file each, with the column names, Arrow types and value domains
of the fixture tables described in FIXTURES.md: TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``.  Row counts scale
with ``sf`` the way the fixtures do (lineitem ~6M x sf).  The same
``(sf, seed)`` always yields byte-identical tables.

Also builds the storage layout of the pushdown experiment
(``tools/pushdown_ab.py``): lineitem sorted by ``l_orderkey``, written
as 50k-row groups, replicated into key-shifted copies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
ROW_GROUP_ROWS = 50_000
DAY_US = 86_400 * 10**6
EPOCH_1995_US = 788_918_400 * 10**6  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _strings(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt.format(i) for i in ids.tolist()], type=pa.string())


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pc.take(pa.array(values), pa.array(idx))


def fixture_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _strings("Customer#{:09d}", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng.uniform(-1000, 10000, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _strings("Supplier#{:09d}", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng.uniform(-1000, 10000, n_supp)),
        }
    )
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _strings("Brand#{}", rng.integers(1, 26, n_part)),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng.uniform(1000, 500_000, n_ord)),
            "o_orderdate": _ts(EPOCH_1995_US + odays * DAY_US),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(len(okey))  # fixture rows are unsorted
    okey, lnum = okey[perm], lnum[perm]
    n_li = len(okey)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng.uniform(900, 105_000, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2499, n_li) * DAY_US),
        }
    )
    gaps = rng.exponential(26e6, n_ev).astype("int64")  # ~26 s apart
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(100, n_ev // 66), n_ev), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": _money(rng.exponential(50, n_ev)),
            "props": _strings('{{"k": {}}}', rng.integers(0, 100, n_ev)),
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n : e]) for n, e in zip(lens.tolist(), ends.tolist())]
    # 5% near-duplicates: an earlier document with one marker word added
    for i in range(n_doc // 20, n_doc, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n_doc, LANG_P),
            "source": _strings("src{}", np.arange(n_doc) % 20),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.01, (10, EMB_DIM))
    emb = (centers[labels] + rng.normal(0, 0.125, (n_emb, EMB_DIM))).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in fixture_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def write_scan_layout(lineitem: str, out_path: str, copies: int) -> pa.Table:
    """The pushdown layout: lineitem sorted by ``l_orderkey`` with
    50k-row groups, ``copies`` key-shifted replicas (copy i adds
    ``i * (max key + 1)``), so per-group min/max stats can prune."""
    t = pq.read_table(lineitem)
    t = t.take(pc.sort_indices(t, sort_keys=[("l_orderkey", "ascending")]))
    span = pc.max(t["l_orderkey"]).as_py() + 1
    col = t.schema.get_field_index("l_orderkey")
    t = pa.concat_tables(
        t.set_column(col, "l_orderkey", pc.add(t["l_orderkey"], i * span))
        for i in range(copies)
    )
    pq.write_table(t, out_path, row_group_size=ROW_GROUP_ROWS)
    return t
