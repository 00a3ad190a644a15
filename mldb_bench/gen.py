"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed
writes byte-identical parquet files and yields the same request
streams. Nothing here imports Spark; the program under test only ever
sees the files and requests produced here.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 star schema (TPC-H-like dimensions plus an
# `events` stream table), the scale the interactive workload queries.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

# Document length distribution of sf0.1's `documents.n_chars`
# (min, deciles and max measured on that table): piecewise-linear
# inverse CDF knots (quantile, characters).
N_CHARS_KNOTS = (
    (0.0, 44.0),
    (0.10, 103.0),
    (0.25, 176.0),
    (0.50, 295.0),
    (0.75, 418.0),
    (0.90, 493.0),
    (0.99, 548.0),
    (1.0, 577.0),
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = [
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cream", "cyan", "dark",
    "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest",
    "frosted", "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
    "hot", "indian", "ivory", "khaki", "lace", "lavender", "lawn", "lemon",
    "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
    "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive",
    "orange", "orchid", "pale", "papaya", "peach", "peru", "pink", "plum",
    "powder", "puff", "purple", "red", "rose", "rosy", "royal", "saddle",
    "salmon", "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow",
    "spring", "steel", "tan", "thistle", "tomato", "turquoise", "violet",
    "wheat", "white", "widget", "yellow",
]
EVENT_TYPES = ["click", "view", "purchase", "search", "share", "signup"]
EPOCH = datetime(2024, 1, 1)


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """`size` draws of ranks 0..n_items-1 with P(rank) ∝ 1/(rank+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def _ts_col(seconds: np.ndarray) -> pa.Array:
    micros = (np.datetime64(EPOCH, "us") + seconds.astype("timedelta64[s]")).astype("datetime64[us]")
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, seed: int, rows: dict[str, int] = SF01_ROWS) -> dict[str, int]:
    """Write the sf0.1-shaped tables as parquet under out_dir; returns
    the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    n_nat = rows["nation"]
    put("nation", {
        "n_nationkey": pa.array(np.arange(n_nat, dtype=np.int32)),
        "n_name": [f"NATION_{i:02d}" for i in range(n_nat)],
        "n_regionkey": pa.array((np.arange(n_nat) % 5).astype(np.int32)),
    })
    n_cust = rows["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    n_supp = rows["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    n_part = rows["part"]
    words = np.array(PART_WORDS)
    name_idx = rng.integers(0, len(words), (n_part, 4))
    put("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": [" ".join(words[r]) for r in name_idx],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })
    n_ord = rows["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": _ts_col(rng.integers(0, 7 * 365, n_ord) * 86_400),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    n_li = rows["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(1, n_ord + 1, n_li)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts_col(rng.integers(0, 7 * 365, n_li) * 86_400),
    })
    n_ev = rows["events"]
    put("events", {
        "event_id": pa.array(np.arange(1, n_ev + 1, dtype=np.int64)),
        "ts": _ts_col(rng.integers(0, 60 * 86_400, n_ev)),
        "user_id": pa.array(rng.integers(1, 2_001, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.uniform(0.0, 100.0, n_ev), 3),
        "props": [f"{{\"k\": {i % 97}}}" for i in range(n_ev)],
    })
    return dict(rows)


# ---------------------------------------------------------------- corpus


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase pseudo-words built from syllables."""
    syll = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = size - len(out)
        k = rng.integers(2, 5, n)
        picks = rng.integers(0, len(syll), (n, 4))
        for ki, row in zip(k, picks):
            w = "".join(syll[row[:ki]])
            if w not in words:
                words.add(w)
                out.append(w)
    return np.array(out)


def _draw_n_chars(rng: np.random.Generator, n: int) -> np.ndarray:
    q, c = zip(*N_CHARS_KNOTS)
    return np.interp(rng.random(n), q, c)


def write_corpus(
    out_path: str,
    seed: int,
    n_docs: int,
    vocab_size: int,
    dup_frac: float = 0.05,
    edit_frac: float = 0.05,
) -> dict:
    """Write a (doc_id, text) parquet corpus and return its facts.

    Tokens are Zipf-distributed over a synthetic vocabulary, document
    lengths follow sf0.1's n_chars distribution, and `dup_frac` of the
    documents are planted near-duplicates: a copy of an earlier source
    document with `edit_frac` of its words replaced. The returned
    `planted` list holds the (source_id, duplicate_id) pairs.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    vocab = vocab[rng.permutation(vocab_size)]
    n_chars = _draw_n_chars(rng, n_docs)
    # ~6.5 characters per word including the separator
    n_words = np.maximum(3, np.round(n_chars / 6.5)).astype(np.int64)
    ranks = zipf_ranks(rng, vocab_size, int(n_words.sum()))
    bounds = np.concatenate(([0], np.cumsum(n_words)))
    docs = [ranks[bounds[i]:bounds[i + 1]] for i in range(n_docs)]

    n_dup = int(round(n_docs * dup_frac))
    dup_ids = rng.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False)
    planted = []
    for d in sorted(dup_ids.tolist()):
        src = int(rng.integers(0, n_docs // 2))
        copy = docs[src].copy()
        n_edit = max(1, int(round(len(copy) * edit_frac)))
        pos = rng.choice(len(copy), n_edit, replace=False)
        copy[pos] = zipf_ranks(rng, vocab_size, n_edit)
        docs[d] = copy
        planted.append((src, d))

    texts = [" ".join(vocab[d]) for d in docs]
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts}),
        out_path,
    )
    return {
        "n_docs": n_docs,
        "vocab_size": vocab_size,
        "tokens": int(n_words.sum()),
        "distinct_tokens": int(len(np.unique(ranks))),
        "planted": planted,
    }


# ---------------------------------------------------------------- ingest


def ingest_round(seed: int, round_no: int, n_rows: int) -> dict:
    """One ingest round's recorded cells and its read parameters.

    Rows carry 4-8 numeric columns; each cell gets 1-3 timestamped
    values, so temporal reductions see real superpositions. Returns
    {"batches": [[[row, [[col, value, ts], ...]], ...], ...], "cells":
    n, "probe_cols": [...], "when_cut": ts}.
    """
    rng = np.random.default_rng([seed, 3, round_no])
    cols = [f"c{i}" for i in range(8)]
    base = int((EPOCH + timedelta(days=int(rng.integers(0, 30)))).timestamp())
    rows = []
    n_cells = 0
    for r in range(n_rows):
        width = int(rng.integers(4, 9))
        picked = sorted(rng.choice(8, width, replace=False).tolist())
        cells = []
        for c in picked:
            # distinct timestamps per cell, so the latest value is unique
            for ts in rng.choice(86_400, int(rng.integers(1, 4)), replace=False).tolist():
                cells.append([cols[c], int(rng.integers(0, 1000)), base + ts])
        n_cells += len(cells)
        rows.append([f"r{r:05d}", cells])
    batch = 250
    return {
        "batches": [rows[i:i + batch] for i in range(0, n_rows, batch)],
        "cells": n_cells,
        "probe_cols": sorted(rng.choice(cols, 2, replace=False).tolist()),
        "when_cut": base + 43_200,
    }
