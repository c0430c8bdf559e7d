"""Seeded input generation. The same seed gives byte-identical inputs.

The TPC-H-style tables follow the schemas in FIXTURES.md §A at a given
scale factor. (The geo_etl buildings batches come from the engine's own
``fixtures.make_buildings(n, seed)``.)
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days_us(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The driver's TPC-H-style star schema plus events, documents and
    embeddings, sized like the TESTDATA.md tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line)),
        }
    )
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ev_us = np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(ev_us),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(
                np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, n_docs)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, LANG_P),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, n_docs)]
            ),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    emb = rng.normal(size=(n_docs, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), i32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write one ``<name>.parquet`` per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents_aug(documents: pa.Table, seed: int) -> pa.Table:
    """The dedup corpus: ``documents`` plus 60 exact copies and 60 near
    copies (about 12% of word positions replaced), the same recipe as
    the engine's ``fixtures.ensure_documents_aug`` applied to the seeded
    documents instead of the fixed sf0.01 table."""
    rng = np.random.default_rng([seed, 2])
    src = documents.to_pylist()
    exact = []
    for i in range(60):
        row = dict(src[(i * 7) % len(src)])
        row.update(doc_id=100_000 + i, source="dup_exact")
        exact.append(row)
    near = []
    for i in range(60):
        base = src[(i * 11) % len(src)]
        words = base["text"].split()
        n_swap = max(1, int(0.12 * len(words)))
        for j in rng.choice(len(words), size=n_swap, replace=False):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        text = " ".join(words)
        near.append(
            {"doc_id": 200_000 + i, "text": text, "lang": base["lang"],
             "source": "dup_near", "n_chars": len(text)}
        )
    return pa.Table.from_pylist(src + exact + near, schema=documents.schema)


def split_into_files(
    table: pa.Table, out_dir: str, n_files: int, seed: int
) -> list[str]:
    """Arrival files for a file-source stream: the rows are dealt to
    ``n_files`` files by a seeded assignment, and the files get ascending
    mtimes, which fix the file source's pickup order."""
    os.makedirs(out_dir, exist_ok=True)
    owner = np.random.default_rng([seed, 3]).integers(0, n_files, len(table))
    paths = []
    base = 1_600_000_000
    for i in range(n_files):
        path = os.path.join(out_dir, f"{i:03d}.parquet")
        pq.write_table(table.take(pa.array(np.flatnonzero(owner == i))), path)
        os.utime(path, (base + 10 * i, base + 10 * i))
        paths.append(path)
    return paths


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (0 if missing)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def dir_files(path: str) -> int:
    """Number of data files under ``path``, ignoring hidden and
    underscore-prefixed bookkeeping files such as ``_SUCCESS``."""
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
