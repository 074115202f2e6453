"""Seeded input generators.

Every table is a pure function of ``(seed, sizes)``: the same seed writes the
same bytes, so two commits measured with one seed score identical inputs.
Tables are written with pyarrow (no Spark job), so generation time does not
depend on the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per parquet row group of the bid store: small enough that a
#: ``tender_id`` filter prunes most of the file by row-group statistics
BID_ROW_GROUP = 4096


def tender_sizes(n_tenders: int, min_bids: int = 20,
                 max_bids: int = 2000) -> np.ndarray:
    """Bids per tender: the ``n_tenders`` quantiles of a log-uniform size
    over ``[min_bids, max_bids]``, in golden-ratio order, so that any run of
    consecutive tenders spreads evenly over the range. They do not depend
    on the seed: every seed scores tenders of the same sizes in one order.
    """
    u = (np.arange(n_tenders) * 0.6180339887498949 + 0.5) % 1.0
    return np.round(np.exp(np.log(min_bids)
                           + u * np.log(max_bids / min_bids))).astype(np.int64)


def bid_table(rng: np.random.Generator, n_tenders: int) -> pd.DataFrame:
    """One row per bid, tender ``i`` with ``tender_sizes(n_tenders)[i]`` bids.

    Columns are continuous where a criterion reads them through statistics
    (price, warranty), so exact score ties inside a tender are vanishingly
    rare and rankings compare exactly across engines.
    """
    sizes = tender_sizes(n_tenders)
    tender = np.repeat(np.arange(n_tenders, dtype=np.int32), sizes)
    n = int(sizes.sum())
    base = np.exp(rng.uniform(np.log(5e4), np.log(5e6), n_tenders))[tender]
    return pd.DataFrame({
        "tender_id": tender,
        "bid_id": np.arange(n, dtype=np.int64),
        "price": np.round(base * rng.lognormal(0.0, 0.15, n), 2),
        "experience": rng.integers(0, 31, n).astype(np.int64),
        "delivery_days": rng.integers(10, 181, n).astype(np.int64),
        "quality": np.round(rng.uniform(40.0, 100.0, n), 3),
        "warranty_months": np.round(rng.uniform(6.0, 60.0, n), 3),
    })


def write_bids(pdf: pd.DataFrame, path: str) -> None:
    """Write the bid store sorted by ``tender_id`` in small row groups."""
    table = pa.Table.from_pandas(pdf.sort_values(["tender_id", "bid_id"]),
                                 preserve_index=False)
    pq.write_table(table, path, row_group_size=BID_ROW_GROUP)


# --- registry tables ---------------------------------------------------------
#
# Same schemas and value shapes as the test tables (TESTDATA.md) the registry's
# oracles were validated on: bag-of-words documents over a 30-word vocabulary
# with 5% " dup" near-copies (every qualifying near-dup pair has Jaccard
# >= 0.88, so banded MinHash recall is exact), clustered unit embeddings,
# an exponential-valued event stream and a uniform part-supplier lineitem.

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])

REGISTRY_SIZES = {
    "documents": 1200,
    "embeddings": 800,
    "events": 15_000,
    "lineitem": 80_000,
    "part": 4000,
}


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 101, n)
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64,
               n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    label = rng.integers(0, n_labels, n)
    vec = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    step_us = rng.integers(1, 2 * 30 * 86_400_000_000 // n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(step_us)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, n // 66), n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def lineitem(rng: np.random.Generator, n: int, n_parts: int) -> pd.DataFrame:
    n_orders, n_supp = n // 4, max(1, n // 600)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": (np.datetime64("1992-01-01", "D")
                       + rng.integers(0, 3650, n)).astype("datetime64[us]"),
    })


def part(rng: np.random.Generator, n: int) -> pd.DataFrame:
    adj = np.array(["large", "hot", "blue", "small", "green"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "nut"])
    return pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "),
                              rng.choice(noun, n)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(np.array(["LARGE", "ECONOMY", "SMALL"]), n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 1000.0, n), 1),
    })


def write_registry_tables(rng: np.random.Generator, out_dir: str,
                          sizes=REGISTRY_SIZES) -> dict:
    """Write the five tables the registry workload reads; returns row counts."""
    tables = {
        "documents": documents(rng, sizes["documents"]),
        "embeddings": embeddings(rng, sizes["embeddings"]),
        "events": events(rng, sizes["events"]),
        "lineitem": lineitem(rng, sizes["lineitem"], sizes["part"]),
        "part": part(rng, sizes["part"]),
    }
    for name, t in tables.items():
        if isinstance(t, pd.DataFrame):
            t = pa.Table.from_pandas(t, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(t) for name, t in tables.items()}
