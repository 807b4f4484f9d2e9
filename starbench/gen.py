"""Seeded TPC-H-shaped source generator for the warehouse-load benchmark.

Everything the benchmark feeds the package comes from one seed: the five
source tables the star schema is built from, the held-out order slices
the incremental batches append, the customer and product keys each batch
changes, and the star-query parameters. Each batch's expected outcome
(rows versioned, fact rows appended) is derived here too, so the checks
in ``oracle.py`` are exact.

Files are written as parquet with the TPC-H column names the package's
``tpch_fixtures`` loaders read (``<dir>/<table>.parquet``), so the
package receives only the generated DataFrames through its own loaders.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's calendar (datespopulation.py: 2023-01-01, 731 days).
DATES_START = dt.date(2023, 1, 1)
DATES_DAYS = 731
# Orders fall on every day of four months around the initial load date,
# so the fact table has 122 date partitions. The fact's fixed costs grow
# with its partition count; four months keep a set-up load plus the
# timed loop inside one run.
ORDERS_START = dt.date(2023, 11, 1)
ORDER_DAYS = 122
# The initial load runs in the middle of the order dates so SCD-2
# versions from the batches start inside the order-date range (the
# point-in-time query needs both sides of a version boundary).
INITIAL_LOAD_DATE = dt.date(2024, 1, 1)

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TYPES = tuple(
    f"{a} {b} {c}"
    for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
)
WORDS = ("almond", "antique", "aquamarine", "azure", "beige", "bisque",
         "black", "blanched", "blue", "blush", "brown", "burlywood",
         "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
         "cream", "cyan", "dark", "deep", "dim", "dodger", "drab")

HOLDOUT_SLICES = 10  # 10 slices of ~1% of orders = the ~10% held out
CUSTOMER_CHANGE_SHARE = 0.02
PRODUCT_CHANGE_SHARE = 0.01


@dataclass
class Batch:
    """One incremental "day": its inputs and its exact expected outcome."""

    index: int
    run_date: dt.date
    dir: str  # customer/part/orders/lineitem parquet for this batch
    customers_changed: int
    products_changed: int
    orders: int
    fact_rows: int
    revenue_cents: int  # sum(TotalPrice) = sum(UnitPrice * Quantity), in cents


@dataclass
class QueryParams:
    year: int
    order_id: int
    week_start: dt.date
    asof_start: dt.date  # first day of the point-in-time join's 14-day window


@dataclass
class Inputs:
    """All generated inputs of one run (written under ``root``)."""

    root: str
    load_dir: str  # the five sources of the initial load
    rows_per_source: dict[str, int]
    batches: list[Batch] = field(default_factory=list)
    queries: list[QueryParams] = field(default_factory=list)

    @property
    def source_rows(self) -> int:
        return sum(self.rows_per_source.values())


def _write(dir_: str, name: str, cols: dict[str, pa.Array]) -> None:
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def generate(root: str, seed: int, sf: float, holdout: bool) -> Inputs:
    """Write the sources for scale factor ``sf`` under ``root``.

    With ``holdout`` a seeded ~10% of orders is kept out of the initial
    load and split into ``HOLDOUT_SLICES`` batches; each batch also
    renames ~2% of customers and reprices ~1% of products, cumulatively,
    so a delta SCD-2 upsert versions exactly those keys.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 500)

    cust_key = np.arange(1, n_cust + 1, dtype=np.int64)
    cust_name = np.array([f"Customer#{k:09d}" for k in cust_key], dtype=object)
    cust_nation = rng.integers(0, 25, n_cust).astype(np.int32)
    cust_bal = _money(rng, n_cust, -999.99, 9999.99)
    cust_seg = np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]

    part_key = np.arange(1, n_part + 1, dtype=np.int64)
    w = np.array(WORDS, dtype=object)
    part_name = (w[rng.integers(0, len(WORDS), n_part)] + " "
                 + w[rng.integers(0, len(WORDS), n_part)])
    part_brand = np.array(
        [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))], dtype=object
    )
    part_type = np.array(TYPES, dtype=object)[rng.integers(0, len(TYPES), n_part)]
    part_size = rng.integers(1, 51, n_part).astype(np.int32)
    part_price = _money(rng, n_part, 900.0, 2100.0)

    supp_key = np.arange(1, n_supp + 1, dtype=np.int64)
    supp_name = np.array([f"Supplier#{k:09d}" for k in supp_key], dtype=object)
    supp_nation = rng.integers(0, 25, n_supp).astype(np.int32)
    supp_bal = _money(rng, n_supp, -999.99, 9999.99)

    # orders: sparse keys like TPC-H, dates uniform over the calendar
    ord_key = np.sort(rng.choice(4 * n_ord, n_ord, replace=False)).astype(np.int64) + 1
    ord_cust = rng.integers(1, n_cust + 1, n_ord).astype(np.int64)
    ord_day = rng.integers(0, ORDER_DAYS, n_ord)
    ord_ts = (np.datetime64(ORDERS_START, "us")
              + ord_day.astype("timedelta64[D]").astype("timedelta64[us]"))

    # lineitem: 1..7 lines per order, distinct parts within an order so
    # the (OrderID, ProductID, StoreID) grain the pipeline validates holds
    lines = rng.integers(1, 8, n_ord)
    li_order_idx = np.repeat(np.arange(n_ord), lines)
    li_lineno = np.arange(len(li_order_idx)) - np.repeat(np.cumsum(lines) - lines, lines)
    part_base = rng.integers(0, n_part, n_ord)
    stride = max(n_part // 8, 1)
    li_part = ((part_base[li_order_idx] + li_lineno * stride) % n_part + 1).astype(np.int64)
    li_supp = rng.integers(1, n_supp + 1, len(li_order_idx)).astype(np.int64)
    li_qty = rng.integers(1, 51, len(li_order_idx)).astype(np.float64)
    li_price = np.round(li_qty * part_price[li_part - 1], 2)

    # held-out slices: a seeded ~10% of orders, in HOLDOUT_SLICES parts
    slice_of = np.full(n_ord, -1)
    if holdout:
        held = rng.choice(n_ord, n_ord // 10, replace=False)
        slice_of[held] = np.arange(len(held)) % HOLDOUT_SLICES

    def orders_cols(mask: np.ndarray) -> dict[str, pa.Array]:
        return {
            "o_orderkey": pa.array(ord_key[mask]),
            "o_custkey": pa.array(ord_cust[mask]),
            "o_orderdate": pa.array(ord_ts[mask]),
        }

    def lineitem_cols(mask: np.ndarray) -> dict[str, pa.Array]:
        m = mask[li_order_idx]
        return {
            "l_orderkey": pa.array(ord_key[li_order_idx[m]]),
            "l_partkey": pa.array(li_part[m]),
            "l_suppkey": pa.array(li_supp[m]),
            "l_quantity": pa.array(li_qty[m]),
            "l_extendedprice": pa.array(li_price[m]),
        }

    def customer_cols() -> dict[str, pa.Array]:
        return {
            "c_custkey": pa.array(cust_key),
            "c_name": pa.array(cust_name, pa.string()),
            "c_nationkey": pa.array(cust_nation),
            "c_acctbal": pa.array(cust_bal),
            "c_mktsegment": pa.array(cust_seg, pa.string()),
        }

    def part_cols() -> dict[str, pa.Array]:
        return {
            "p_partkey": pa.array(part_key),
            "p_name": pa.array(part_name, pa.string()),
            "p_brand": pa.array(part_brand, pa.string()),
            "p_type": pa.array(part_type, pa.string()),
            "p_size": pa.array(part_size),
            "p_retailprice": pa.array(part_price),
        }

    load_dir = os.path.join(root, "load")
    loaded = slice_of < 0
    _write(load_dir, "customer", customer_cols())
    _write(load_dir, "part", part_cols())
    _write(load_dir, "supplier", {
        "s_suppkey": pa.array(supp_key),
        "s_name": pa.array(supp_name, pa.string()),
        "s_nationkey": pa.array(supp_nation),
        "s_acctbal": pa.array(supp_bal),
    })
    _write(load_dir, "orders", orders_cols(loaded))
    _write(load_dir, "lineitem", lineitem_cols(loaded))
    inputs = Inputs(
        root=root,
        load_dir=load_dir,
        rows_per_source={
            "customers": n_cust,
            "products": n_part,
            "stores": n_supp,
            "orders": int(loaded.sum()),
            "orderdetails": int(loaded[li_order_idx].sum()),
        },
    )

    if holdout:
        n_cc = max(int(n_cust * CUSTOMER_CHANGE_SHARE), 1)
        n_pc = max(int(n_part * PRODUCT_CHANGE_SHARE), 1)
        for b in range(HOLDOUT_SLICES):
            # cumulative state: a key changed in an earlier batch keeps
            # its new value, so only this batch's keys differ from the
            # current dim rows
            ck = rng.choice(n_cust, n_cc, replace=False)
            cust_name[ck] = [f"Customer#{k + 1:09d}~b{b}" for k in ck]
            pk = rng.choice(n_part, n_pc, replace=False)
            part_price[pk] = np.round(part_price[pk] + 0.01 * (b + 1), 2)
            in_slice = slice_of == b
            bdir = os.path.join(root, f"batch{b:02d}")
            _write(bdir, "customer", customer_cols())
            _write(bdir, "part", part_cols())
            _write(bdir, "orders", orders_cols(in_slice))
            _write(bdir, "lineitem", lineitem_cols(in_slice))
            m = in_slice[li_order_idx]
            inputs.batches.append(Batch(
                index=b,
                run_date=INITIAL_LOAD_DATE + dt.timedelta(days=b + 1),
                dir=bdir,
                customers_changed=n_cc,
                products_changed=n_pc,
                orders=int(in_slice.sum()),
                fact_rows=int(m.sum()),
                revenue_cents=int((np.round(li_price[m] * 100) * li_qty[m]).sum()),
            ))

    loaded_ids = ord_key[loaded]
    for _ in range(8):
        inputs.queries.append(QueryParams(
            year=int(rng.choice([2023, 2024])),
            order_id=int(loaded_ids[rng.integers(0, len(loaded_ids))]),
            week_start=ORDERS_START + dt.timedelta(days=int(rng.integers(0, ORDER_DAYS - 7))),
            asof_start=INITIAL_LOAD_DATE + dt.timedelta(days=int(rng.integers(0, 4))),
        ))
    return inputs
