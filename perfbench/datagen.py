"""Seeded benchmark inputs.

``write_tables`` writes the ten canonical tables (region nation customer
supplier part orders lineitem events documents embeddings) as one
parquet file each, with the column names, types and value
distributions of the repo's sf-scaled test tables. Row counts scale
with ``sf`` exactly as those tables do (lineitem ~6M * sf rows). The
same (sf, seed) always writes the same rows.

``write_fa_zips`` writes FA-shaped raw zips by driving the repo's own
generator (``tools/fa_bench_data.py --worker``), one process per zip
member with at most ``workers`` running at once. That generator is
pure modular arithmetic: its content depends on the property count
only, not on the seed.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
_NOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "es", "zh", "de", "fr"])
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents: 10-100 words from a 30-word vocabulary.
    5% are near-duplicates (an earlier document plus the word ``dup``)
    and 0.2% exact copies of an earlier one, so the dedup operators
    find work."""
    n_words = rng.integers(10, 101, n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(_ADJ, n_part), " "), rng.choice(_NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line)),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_evt, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt)),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns the
    file size in bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes


def write_fa_zips(repo_root: str, input_dir: str, n_properties: int, workers: int) -> int:
    """Write ``input_dir/raw/*.txt.zip`` for ``n_properties`` FA
    properties; returns the total zip bytes."""
    from concurrent.futures import ThreadPoolExecutor

    gen = os.path.join(repo_root, "tools", "fa_bench_data.py")
    raw = os.path.join(input_dir, "raw")
    os.makedirs(raw, exist_ok=True)
    members = [
        (fam, county)
        for fam in ("Deed", "Prop", "TaxHist", "ValHist")
        for county in ("36061", "6037")
    ]

    def one(member: tuple[str, str]) -> None:
        fam, county = member
        subprocess.run(
            [sys.executable, gen, "--worker", raw, fam, county, str(n_properties)],
            check=True,
        )

    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        list(pool.map(one, members))
    return sum(e.stat().st_size for e in os.scandir(raw))
