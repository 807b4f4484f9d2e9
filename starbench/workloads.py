"""The two workloads: full load, and a daily cycle of one SCD-2 batch
followed by five star queries.

Each drives the package only through its public functions
(``Pipeline.run``, ``validate_or_raise``, ``scd2_upsert``,
``build_staging_fact``/``populate_fact``, ``Catalog.transaction`` with
``overwrite``/``append``/``read_committed``/``read_staged``, and
``Catalog.read``), one client in a closed loop: the next operation
starts when the previous one, and its output check, has finished.

Package functions are called through their modules (``scd2.scd2_upsert``
rather than an imported name) so that a traced run's wrappers see them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators import fact, scd2, validation
from glue_jobs_for_data_pipeline_spark.plans import pipeline
from glue_jobs_for_data_pipeline_spark.plans import tpch_fixtures as fx
from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

import gen
import oracle
from spans import QUERY_SHAPES

# Scale factor of every workload. A load is bound by fixed per-job and
# per-partition costs (one fact partition per order date) and costs about
# the same at sf0.1; sf0.01 keeps set-up plus the timed loop inside one
# run.
SF = 0.01
# Operations a run measures at least, whatever --seconds says. Load times
# vary widely from one load to the next on a shared host; the median of
# three keeps one slow load out of the run's figure.
MIN_OPS = {"full_load": 3}
SOURCE_PKS = {"customers": "CustomerID", "products": "ProductID",
              "stores": "StoreID", "orders": "OrderID",
              "orderdetails": ["OrderID", "ProductID", "StoreID"]}
DIMS = (("customers", "CustomerID", fx.CUSTOMER_COLS, "CustomerKey"),
        ("products", "ProductID", fx.PRODUCT_COLS, "ProductKey"),
        ("stores", "StoreID", fx.STORE_COLS, "StoreKey"))


@dataclass
class Outcome:
    """What one run measured."""

    op_times: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows_processed: int = 0  # input rows of the successful operations
    warehouse_bytes: int = 0
    problems: list[str] = field(default_factory=list)


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path``; a file hard-linked twice counts once."""
    seen, total = set(), 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_blocks * 512
    return total


def make_pipeline() -> pipeline.Pipeline:
    return pipeline.Pipeline(
        sources={"customers": fx.ref_customers, "products": fx.ref_products,
                 "stores": fx.ref_stores, "orders": fx.ref_orders,
                 "orderdetails": fx.ref_orderdetails},
        dims=[pipeline.DimSpec(*d) for d in DIMS],
        source_pks={"orderdetails": SOURCE_PKS["orderdetails"]},
    )


def full_load(spark, inputs: gen.Inputs, warehouse: str) -> None:
    ctx = pipeline.PipelineContext(
        sf_dir=inputs.load_dir, warehouse_dir=warehouse,
        run_date=gen.INITIAL_LOAD_DATE, dates_start=gen.DATES_START,
        dates_days=gen.DATES_DAYS)
    make_pipeline().run(spark, ctx)


def batch_rows(inputs: gen.Inputs, b: gen.Batch) -> dict[str, int]:
    return {"customers": inputs.rows_per_source["customers"],
            "products": inputs.rows_per_source["products"],
            "orders": b.orders, "orderdetails": b.fact_rows}


def run_batch(spark, warehouse: str, b: gen.Batch) -> None:
    """One incremental "day" in one catalog transaction: validate the
    batch, delta SCD-2 upsert of customers and products, overwrite those
    dims, resolve the held-out order slice and append it to the fact."""
    cat = Catalog(warehouse)
    with cat.transaction() as t:
        src = {"customers": fx.ref_customers(spark, b.dir),
               "products": fx.ref_products(spark, b.dir),
               "orders": fx.ref_orders(spark, b.dir),
               "orderdetails": fx.ref_orderdetails(spark, b.dir)}
        for name, df in src.items():
            validation.validate_or_raise(df, name, SOURCE_PKS[name])
        for name, key, cols, sk in DIMS[:2]:
            dim = scd2.scd2_upsert(
                t.read_committed(spark, f"dim_{name}"), src[name], key,
                list(cols), sk, run_date=b.run_date, mode="delta")
            t.overwrite(dim, f"dim_{name}")
        lines = fact.populate_fact(
            fact.build_staging_fact(src["orders"], src["orderdetails"]),
            t.read_staged(spark, "dim_customers"),
            t.read_committed(spark, "dim_stores"),
            t.read_staged(spark, "dim_products"),
            t.read_committed(spark, "dim_dates"))
        t.append(lines.repartition("OrderDateKey"), "fact_orders")


# -- star queries -------------------------------------------------------------
def star_query(spark, warehouse: str, shape: str, q: gen.QueryParams) -> list[tuple]:
    """One analyst query; its tables are opened at query time so it sees
    the latest commit."""
    cat = Catalog(warehouse)
    f = cat.read(spark, "fact_orders")
    if shape == "a":  # monthly revenue by market segment, one year
        c = cat.read(spark, "dim_customers")
        df = (f.filter(F.col("OrderDateKey").between(q.year * 10000 + 101,
                                                     q.year * 10000 + 1231))
              .join(c.select("CustomerKey", "MktSegment"), "CustomerKey")
              .groupBy((F.col("OrderDateKey") / 100 % 100).cast("int").alias("month"),
                       "MktSegment")
              .agg(F.sum("TotalPrice").alias("revenue"))
              .orderBy("month", "MktSegment"))
    elif shape == "b":  # top-10 brands by revenue
        p = cat.read(spark, "dim_products")
        df = (f.join(p.select("ProductKey", "Brand"), "ProductKey")
              .groupBy("Brand").agg(F.sum("TotalPrice").alias("revenue"))
              .orderBy(F.desc("revenue"), "Brand").limit(10))
    elif shape == "c":  # lines joined to the customer version valid on the order date
        c = cat.read(spark, "dim_customers")
        d = cat.read(spark, "dim_dates")
        lo = int(q.asof_start.strftime("%Y%m%d"))
        hi = int((q.asof_start + gen.dt.timedelta(days=13)).strftime("%Y%m%d"))
        v = c.select("CustomerID", F.col("CustomerKey").alias("VersionKey"),
                     "StartDate", "EndDate")
        df = (f.filter(F.col("OrderDateKey").between(lo, hi))
              .join(d.select(F.col("DateKey").alias("OrderDateKey"), "Date"),
                    "OrderDateKey")
              .join(c.select("CustomerKey", "CustomerID"), "CustomerKey")
              .join(v, "CustomerID")
              .filter(F.col("Date").between(F.col("StartDate"), F.col("EndDate")))
              .agg(F.count(F.lit(1)).alias("line_count"),
                   F.countDistinct("VersionKey").alias("versions"),
                   F.sum("TotalPrice").alias("revenue")))
    elif shape == "d":  # the lines of one order
        p = cat.read(spark, "dim_products")
        df = (f.filter(F.col("OrderID") == q.order_id)
              .join(p.select("ProductKey", "ProductID"), "ProductKey")
              .select("ProductID", "Quantity", "UnitPrice", "TotalPrice",
                      "OrderDateKey")
              .orderBy("ProductID"))
    else:  # daily row counts over one week
        lo = int(q.week_start.strftime("%Y%m%d"))
        hi = int((q.week_start + gen.dt.timedelta(days=6)).strftime("%Y%m%d"))
        df = (f.filter(F.col("OrderDateKey").between(lo, hi))
              .groupBy("OrderDateKey").agg(F.count(F.lit(1)).alias("lines"))
              .orderBy("OrderDateKey"))
    return [tuple(r) for r in df.collect()]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    def norm(rows):
        return [tuple(Decimal(str(v)) if isinstance(v, (int, float, Decimal))
                      else v for v in r) for r in rows]
    return norm(got) == norm(want)


# -- the run loops --------------------------------------------------------------
class Run:
    """One workload run: set-up in ``__init__``, timed loop in ``measure``."""

    def __init__(self, spark, workload: str, seed: int, sf: float,
                 workdir: str) -> None:
        self.spark, self.workload, self.workdir = spark, workload, workdir
        self.tracer = None  # set for a traced run after set-up
        self.out = Outcome()
        holdout = workload != "full_load"
        self.inputs = gen.generate(os.path.join(workdir, "inputs"), seed, sf, holdout)
        self.warehouse = os.path.join(workdir, "warehouse")
        self.next_batch = 0
        self.expected = oracle.Oracle(self.inputs).fact_totals()
        if workload == "full_load":
            # warm-up: the first load in a process pays class loading and
            # JIT compilation that no later load pays; tiny inputs run the
            # same code at a fraction of the cost
            warm = gen.generate(os.path.join(workdir, "warmup"), seed, 0.001, False)
            full_load(spark, warm, os.path.join(workdir, "warmup", "warehouse"))
            shutil.rmtree(os.path.join(workdir, "warmup"))
            return
        full_load(spark, self.inputs, self.warehouse)
        problems = oracle.check_load(self.warehouse, self.inputs, self.expected)
        if problems:
            raise RuntimeError(f"set-up warehouse is wrong: {problems}")

    def _timed(self, op, check, rows: int, span: str) -> None:
        """Run ``op`` under the clock, then ``check`` outside it; an
        exception or a failed check counts the operation as failed."""
        self.out.attempted += 1
        try:
            t0 = time.perf_counter()
            with self._span(span):
                op()
            self.out.op_times.append(time.perf_counter() - t0)
            problems = check()
        except Exception as e:  # noqa: BLE001 - any failure of the op counts
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            self.out.failed += 1
            self.out.problems += problems
        else:
            self.out.rows_processed += rows

    def measure(self, seconds: float) -> Outcome:
        deadline = time.perf_counter() + seconds
        step = {"full_load": self._load_step,
                "daily_cycle": self._cycle_step}[self.workload]
        while step() and (time.perf_counter() < deadline
                          or self.out.attempted < MIN_OPS.get(self.workload, 1)):
            pass
        return self.out

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _load_step(self) -> bool:
        wh = os.path.join(self.workdir, f"load{self.out.attempted}")
        if self.tracer:
            self.tracer.source_rows = dict(self.inputs.rows_per_source)

        def check():
            problems = oracle.check_load(wh, self.inputs, self.expected)
            if not self.out.warehouse_bytes:
                self.out.warehouse_bytes = dir_bytes(wh)
            shutil.rmtree(wh, ignore_errors=True)
            return problems

        self._timed(lambda: full_load(self.spark, self.inputs, wh), check,
                    self.inputs.source_rows, "pipeline")
        return True

    def _cycle_step(self) -> bool:
        """One day: the batch transaction, then one pass of the five
        query shapes, which open their tables after the batch committed."""
        if self.next_batch >= len(self.inputs.batches):
            return False
        b = self.inputs.batches[self.next_batch]
        self.next_batch += 1
        q = self.inputs.queries[b.index % len(self.inputs.queries)]
        dims = oracle.dim_state(self.warehouse)
        fact_before = oracle.fact_state(self.warehouse)
        rows = batch_rows(self.inputs, b)
        if self.tracer:
            self.tracer.source_rows = rows
        got: dict[str, list[tuple]] = {}

        def op():
            with self._span("batch"):
                run_batch(self.spark, self.warehouse, b)
            for shape in QUERY_SHAPES:
                with self._span(f"query.{shape}"):
                    got[shape] = star_query(self.spark, self.warehouse, shape, q)

        def check():
            problems = oracle.check_batch(self.warehouse, b, dims, fact_before)
            orc = oracle.Oracle(self.inputs, batches_applied=b.index + 1)
            for shape in QUERY_SHAPES:
                want = orc.query(shape, q)
                if not same_rows(got[shape], want):
                    problems.append(f"query {shape} after batch {b.index}: "
                                    f"{got[shape][:3]} != {want[:3]}")
            if not self.out.warehouse_bytes:
                self.out.warehouse_bytes = dir_bytes(self.warehouse)
            return problems

        fact_rows = fact_before[0] + b.fact_rows
        self._timed(op, check, sum(rows.values()) + len(QUERY_SHAPES) * fact_rows,
                    "cycle")
        return True


def end_to_end(out: Outcome, setup_s: float) -> dict[str, float]:
    busy = sum(out.op_times)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(out.op_times) if out.op_times else 0.0,
        "rows_per_s": out.rows_processed / busy if busy else 0.0,
        "warehouse_mb": out.warehouse_bytes / 1e6,
    }
