"""Seeded fixture generator for the benchmark.

Writes the ten tables of ``pydatalake_gen2_spark.tables.TABLES`` with numpy
and pyarrow only, so no change to the engine package or its tools can
change the benchmark's inputs. The value domains follow the sf0.1 test
fixtures (uniform TPC-H-ish keys, 2-decimal money, a 30-word document
vocabulary with exact and " dup"-suffixed near duplicates, unit-norm
64-d float embeddings, microsecond timestamps).

``scale`` multiplies every row count and every key range of the sf0.1
shape: scale 1 is sf0.1, scale 10 is the 10x OLAP fixture. Small scales
are written as one single-row-group file per table, like the test
fixtures; large ones as a directory of part files with several row
groups, so scans split the way lake files do.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101
# sf0.1 row counts.
BASE_ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lens)]
    # 5% near duplicates (an earlier text plus " dup"), then a few exact
    # duplicate texts; targets are drawn so no copy is copied again.
    n_near, n_exact = n // 20, max(1, n // 625)
    copies = rng.choice(np.arange(1, n), size=n_near + n_exact, replace=False)
    sources = rng.choice(
        np.setdiff1d(np.arange(n), copies), size=n_near + n_exact, replace=False
    )
    for i, (dst, src) in enumerate(zip(copies, sources)):
        texts[dst] = texts[src] + (" dup" if i < n_near else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * 64, 64, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_tables(scale: int) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` times the sf0.1 shape."""
    rng = np.random.default_rng(GEN_SEED)
    n = {t: r * scale for t, r in BASE_ROWS.items()}
    n_sup, n_cust, n_part, n_ord = n["supplier"], n["customer"], n["part"], n["orders"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
            "s_name": _names("Supplier", n_sup),
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_sup)),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
            ),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    n_li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_sup, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US),
        }
    )
    n_ev = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, EVENT_USERS * scale, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(out_dir: str, scale: int) -> str:
    """Write every table under ``out_dir``; returns the content hash."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if table.num_rows < 1_000_000:
            pq.write_table(table, path, row_group_size=table.num_rows or 1)
            continue
        os.makedirs(path, exist_ok=True)
        n_files = 8
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(path, f"part-{i:05d}.parquet"),
                row_group_size=step // 4 + 1,
            )
    return content_hash(out_dir)


def content_hash(root: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()
