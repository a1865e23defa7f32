"""Seeded input generators for the benchmark.

Everything the program sees is made here from one integer seed: the
star-schema tables the dashboard queries read, and the Tiny-API-shaped
JSON envelope pages the page sync merges (together with the base table
they merge into and the keep-latest state the sync must end in). The
same seed always gives the same bytes.

Value domains follow the engine's test tables (TPC-H-ish schema, see
``tinyerp_etl_spark.sources.catalog.TABLES``) so every query's filters
select rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tinyerp_etl_spark.sources.catalog import TABLES

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000

#: tables the dashboard queries read
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _arrow_type(dt) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.StringType: pa.string(),
        T.TimestampType: pa.timestamp("us"),
    }[type(dt)]


def _arrow_schema(name: str) -> pa.Schema:
    return pa.schema([(f.name, _arrow_type(f.dataType)) for f in TABLES[name].fields])


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols, schema=_arrow_schema(name))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=len(table) or 1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, span: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span, n) * np.timedelta64(_DAY_US, "us")


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the seven star-schema tables at scale ``sf`` (sf0.1 has
    600,000 lineitem rows); returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": regions})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["red", "blue", "green", "hot", "new", "large", "small", "old"]
    nouns = ["bolt", "ring", "rod", "plate", "anvil", "nut", "gear", "pipe"]
    names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    part_keys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (part_keys % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": part_keys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 2405, n_ord),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    l_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] + rng.integers(0, 100, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 2499, n_li) + np.timedelta64(_DAY_US, "us"),
    })
    # the DuckDB oracle harness opens a view on every catalog table, so
    # the tables no dashboard query reads exist too, empty
    for name in TABLES:
        if name not in STAR_TABLES:
            pq.write_table(_arrow_schema(name).empty_table(),
                           os.path.join(out_dir, f"{name}.parquet"))
    return {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_li}


# ---- page sync inputs ------------------------------------------------------

#: keys of the synced ``pedido_itens``-like table
SYNC_KEYS = ("id_pedido", "seq_item")
#: record fields as the API sends them (all strings, comma decimals)
API_FIELDS = ("id_pedido", "seq_item", "id_produto", "quantidade",
              "valor_unitario", "versao", "data_alteracao")
#: the page's record array and per-record wrapper (Tiny v2 envelope)
RECORD_FIELD, WRAPPER = "itens", "item"

# Page shape. The reference lists changed orders page by page
# (``pedidos.pesquisa``), fetches each one (``pedido.obter``) and replaces
# that order's items, so a page carries whole orders: every item of each
# order on it. The counts below are assumptions, not measured traffic:
# nothing in the reference says how many orders change between two syncs,
# how many are new, or how often one is listed twice.
#: pages per sync
N_PAGES = 3
#: orders per page; at 4 items per order on average a page has ~600 records
ORDERS_PER_PAGE = 150
#: share of a page's orders that are new (the rest change existing orders)
INSERT_SHARE = 0.2
#: share of a page's orders listed again in the same page with a newer
#: ``versao`` (changed again while the sync ran), so keep-latest has work
DUP_SHARE = 0.05
#: items per order are uniform in 1..7, as TPC-H's lines per order
MAX_ITEMS = 7


def _item_seqs(sizes: np.ndarray) -> np.ndarray:
    """``1..size`` for each order, concatenated."""
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    return (np.arange(int(sizes.sum())) - starts + 1).astype(np.int32)


@dataclass
class SyncInputs:
    """Everything one page-sync pass needs, made from one seed."""

    base_path: str        # parquet file of the committed base table
    page_dir: str         # one JSON envelope file per page
    n_pages: int
    page_rows: list[int]  # records per page (duplicates included)
    expected_rows: int    # table rows after keep-latest merge
    expected_hash: str    # order-insensitive hash of the final table
    watermark: datetime   # last sync time: filter = watermark + 1 s


def table_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a sync table: each row's fields are
    hashed to 64 bits and the row hashes summed mod 2**64, so row order
    never matters. ``df`` holds the sync table's columns with Spark's
    or the generator's dtypes; both are normalised here."""
    norm = pd.DataFrame({
        "id_pedido": df["id_pedido"].astype("int64"),
        "seq_item": df["seq_item"].astype("int64"),
        "id_produto": df["id_produto"].astype("int64"),
        "quantidade": df["quantidade"].astype("float64"),
        "valor_unitario": df["valor_unitario"].astype("float64"),
        "versao": df["versao"].astype("int64"),
        "data_alteracao": df["data_alteracao"].astype("datetime64[us]").astype("int64"),
    })
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return f"{int(h.sum(dtype=np.uint64)):016x}"


def sync_arrow_schema() -> pa.Schema:
    return pa.schema([
        ("id_pedido", pa.int64()), ("seq_item", pa.int32()),
        ("id_produto", pa.int64()), ("quantidade", pa.float64()),
        ("valor_unitario", pa.float64()), ("versao", pa.int64()),
        ("data_alteracao", pa.timestamp("us")),
    ])


def _br_decimal(v: float) -> str:
    return f"{v:.2f}".replace(".", ",")


def write_sync_inputs(out_dir: str, seed: int, base_rows: int = 600_000) -> SyncInputs:
    """A base table of about ``base_rows`` items with unique
    (``id_pedido``, ``seq_item``) keys, plus ``N_PAGES`` envelope pages of
    ``ORDERS_PER_PAGE`` whole orders each. A changed order keeps its item
    count, so upserting its items by key gives the same table as the
    reference's replace of the order's items."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(base_rows * 2 // (MAX_ITEMS + 1), 1)
    sizes = rng.integers(1, MAX_ITEMS + 1, n_orders)
    base_rows = int(sizes.sum())
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    base = pd.DataFrame({
        "id_pedido": np.repeat(np.arange(n_orders, dtype=np.int64), sizes),
        "seq_item": _item_seqs(sizes),
        "id_produto": rng.integers(0, 50_000, base_rows, dtype=np.int64),
        "quantidade": rng.integers(1, 50, base_rows).astype(np.float64),
        "valor_unitario": rng.integers(100, 100_000, base_rows) / 100.0,
        "versao": np.zeros(base_rows, dtype=np.int64),
        "data_alteracao": t0 + rng.integers(0, 30 * 86_400, base_rows) * np.timedelta64(1_000_000, "us"),
    })
    base_path = os.path.join(out_dir, "base.parquet")
    pq.write_table(pa.Table.from_pandas(base, schema=sync_arrow_schema(), preserve_index=False),
                   base_path)

    page_dir = os.path.join(out_dir, "pages")
    os.makedirs(page_dir, exist_ok=True)
    sync_t0 = np.datetime64("2024-02-01T00:00:00", "us")
    n_dup = int(ORDERS_PER_PAGE * DUP_SHARE)
    n_new = int(ORDERS_PER_PAGE * INSERT_SHARE)
    n_upd = ORDERS_PER_PAGE - n_dup - n_new
    if n_upd > n_orders:
        raise ValueError(f"a base of {base_rows} rows has fewer than {n_upd} orders")
    next_order, version = n_orders, 0
    pages = []
    for p in range(1, N_PAGES + 1):
        ords = np.concatenate([rng.choice(n_orders, n_upd, replace=False),
                               np.arange(next_order, next_order + n_new)])
        ord_sizes = np.concatenate([sizes[ords[:n_upd]],
                                    rng.integers(1, MAX_ITEMS + 1, n_new)])
        next_order += n_new
        dup = rng.choice(len(ords), n_dup, replace=False)
        ords = np.concatenate([ords, ords[dup]])
        ord_sizes = np.concatenate([ord_sizes, ord_sizes[dup]])
        # one fetch of an order gives all its items one version and
        # change time; the repeats come last, so they are the newest
        ord_versao = version + 1 + np.arange(len(ords), dtype=np.int64)
        version += len(ords)
        # arrival order: orders shuffled, each order's items together
        perm = rng.permutation(len(ords))
        ords, ord_sizes, ord_versao = ords[perm], ord_sizes[perm], ord_versao[perm]
        n = int(ord_sizes.sum())
        versao = np.repeat(ord_versao, ord_sizes)
        page = pd.DataFrame({
            "id_pedido": np.repeat(ords, ord_sizes).astype(np.int64),
            "seq_item": _item_seqs(ord_sizes),
            "id_produto": rng.integers(0, 50_000, n, dtype=np.int64),
            "quantidade": rng.integers(1, 50, n).astype(np.float64),
            "valor_unitario": rng.integers(100, 100_000, n) / 100.0,
            "versao": versao,
            "data_alteracao": sync_t0 + versao * 7 * np.timedelta64(1_000_000, "us"),
        })
        recs = [{WRAPPER: {
            "id_pedido": str(r.id_pedido), "seq_item": str(r.seq_item),
            "id_produto": str(r.id_produto),
            "quantidade": _br_decimal(r.quantidade),
            "valor_unitario": _br_decimal(r.valor_unitario),
            "versao": str(r.versao),
            "data_alteracao": r.data_alteracao.strftime("%d/%m/%Y %H:%M:%S"),
        }} for r in page.itertuples(index=False)]
        envelope = {"retorno": {
            "status": "OK", "status_processamento": "3",
            "pagina": p, "numero_paginas": N_PAGES, RECORD_FIELD: recs,
        }}
        with open(os.path.join(page_dir, f"page_{p:05d}.json"), "w") as f:
            json.dump(envelope, f)
        pages.append(page)

    # keep-latest: the highest versao per key wins (base rows are versao 0)
    final = (pd.concat([base] + pages, ignore_index=True)
             .sort_values("versao", kind="stable")
             .drop_duplicates(list(SYNC_KEYS), keep="last"))
    return SyncInputs(
        base_path=base_path, page_dir=page_dir, n_pages=N_PAGES,
        page_rows=[len(p) for p in pages],
        expected_rows=len(final), expected_hash=table_hash(final),
        watermark=datetime(2024, 1, 31, 23, 59, 59),
    )
