"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is made here from the run's
seed, so the same seed gives byte-identical inputs and the program under
test receives only files:

- ``write_testdata`` writes the ten parquet tables the query registry reads
  (``sources.catalog.TABLES``), shaped like the TPC-H-ish test tables of
  TESTDATA.md: same columns, parquet types and value domains, row counts
  scaled by ``sf`` the same way (sf0.01: 60k lineitem rows).
- ``write_fs_csvs`` writes the four reference-shaped CSVs of the
  feature-store lifecycle (customer/product features, labelled spine,
  inference spine) plus the merge batch, following the reference fixture
  rules: 30-day totals cover the 7-day totals, ten product categories, a
  non-unique spine, spine keys without a feature row, ~59% positives.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "valve", "spring"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
CATEGORIES = np.array([
    "Automotive", "Beauty", "Books", "Clothing", "Electronics",
    "Food", "Health", "Home & Garden", "Sports", "Toys",
])


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return base + rng.integers(0, n_days, size) * day


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_testdata(out_dir: str, sf: float, seed: int) -> None:
    """Write the registry's ten tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))
    n_users = max(15, n_cust // 10)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2_404, n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2_498, n_li),
    }), f"{out_dir}/lineitem.parquet")
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev).clip(0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")

    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # 5% near-duplicates: a copy of an earlier document plus a marker
    # token, the shape the dedup and similarity queries look for. The
    # count is fixed so that every seed gives the dedup queries the same
    # amount of work.
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    labels = rng.permutation(np.arange(n_emb) % 10)  # ten equal clusters
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")


@dataclass(frozen=True)
class FsSizes:
    customers: int
    products: int
    spine: int
    inference: int
    new_keys: int
    changed_share: float = 0.05
    missing_share: float = 0.05  # spine keys with no feature row


@dataclass(frozen=True)
class FsInputs:
    customers_csv: str
    products_csv: str
    labels_csv: str
    inference_csv: str
    updates_csv: str
    n_customers: int
    n_spine: int
    n_inference: int
    n_new_keys: int


def _write_csv(df: pd.DataFrame, path: str) -> str:
    df.to_csv(path, index=False, lineterminator="\n", float_format="%.2f")
    return path


def write_fs_csvs(out_dir: str, sizes: FsSizes, seed: int) -> FsInputs:
    """Reference-shaped feature-store inputs (one CSV file each)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = sizes.customers
    ids = np.arange(1, n + 1)
    p7 = np.round(rng.gamma(1.2, 60.0, n).clip(0.5, 450.0), 2)
    p30 = np.round(p7 + rng.gamma(1.5, 150.0, n).clip(0.0, 1050.0), 2)
    customers = pd.DataFrame({
        "customer_id": ids, "total_purchase_7d": p7, "total_purchase_30d": p30,
    })
    products = pd.DataFrame({
        "product_id": np.arange(1, sizes.products + 1),
        "category": CATEGORIES[rng.integers(0, 10, sizes.products)],
    })

    def spine(rows: int) -> pd.DataFrame:
        # Keys above n (customers) or sizes.products have no feature row:
        # the training-set left join must keep those rows with NULLs.
        cust = rng.integers(1, int(n * (1 + sizes.missing_share)) + 1, rows)
        prod = rng.integers(1, int(sizes.products * (1 + sizes.missing_share)) + 1, rows)
        # Re-draw a slice of rows from earlier ones: duplicate
        # (customer_id, product_id) pairs, as in the reference spine.
        dup = np.flatnonzero(rng.random(rows) < 0.04)
        dup = dup[dup > 0]
        src = (rng.random(len(dup)) * dup).astype(np.int64)
        cust[dup], prod[dup] = cust[src], prod[src]
        return pd.DataFrame({
            "customer_id": cust, "product_id": prod,
            "on_sales": (rng.random(rows) < 0.4).astype(np.int64),
        })

    labels = spine(sizes.spine)
    labels["purchased"] = (rng.random(sizes.spine) < 0.59).astype(np.int64)
    inference = spine(sizes.inference)

    changed = rng.choice(ids, int(n * sizes.changed_share), replace=False)
    new_ids = np.arange(n + 1, n + sizes.new_keys + 1)
    upd_ids = np.concatenate([changed, new_ids])
    u7 = np.round(rng.gamma(1.2, 60.0, len(upd_ids)).clip(0.5, 450.0), 2)
    updates = pd.DataFrame({
        "customer_id": upd_ids,
        "total_purchase_7d": u7,
        "total_purchase_30d": np.round(u7 + rng.gamma(1.5, 150.0, len(upd_ids)), 2),
    })
    return FsInputs(
        customers_csv=_write_csv(customers, f"{out_dir}/customer_features.csv"),
        products_csv=_write_csv(products, f"{out_dir}/product_features.csv"),
        labels_csv=_write_csv(labels, f"{out_dir}/training_labels.csv"),
        inference_csv=_write_csv(inference, f"{out_dir}/inference_data.csv"),
        updates_csv=_write_csv(updates, f"{out_dir}/customer_updates.csv"),
        n_customers=n,
        n_spine=sizes.spine,
        n_inference=sizes.inference,
        n_new_keys=sizes.new_keys,
    )
