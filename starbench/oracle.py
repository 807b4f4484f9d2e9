"""Expected answers (DuckDB over the generated parquet) and output checks.

The oracle states the star schema's source mapping with the package's
own ``tpch_fixtures.SQL_*`` fragments, so it reads the same parquet the
pipeline loads through a second engine. Checks of what a load or batch
published read the committed files of the catalog's manifest with
DuckDB as well, so checking costs no Spark jobs and is independent of
the package's readers.

Every check returns a list of problems; an empty list means the
operation's output is correct.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import duckdb

from glue_jobs_for_data_pipeline_spark.plans import tpch_fixtures as fx
from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

import gen

DIMS = {  # dim table -> (business key, source rows key in Inputs)
    "dim_customers": ("CustomerID", "customers"),
    "dim_products": ("ProductID", "products"),
    "dim_stores": ("StoreID", "stores"),
}
SENTINEL = "DATE '9999-12-31'"


def _files(dirs: list[str], table: str) -> str:
    return "[" + ", ".join(f"'{d}/{table}.parquet'" for d in dirs) + "]"


class Oracle:
    """DuckDB views over the sources one warehouse state was built from:
    the initial load plus the batches applied so far."""

    def __init__(self, inputs: gen.Inputs, batches_applied: int = 0) -> None:
        self.con = duckdb.connect()
        applied = inputs.batches[:batches_applied]
        fact_dirs = [inputs.load_dir] + [b.dir for b in applied]
        dim_dir = applied[-1].dir if applied else inputs.load_dir
        for table, dirs in (("customer", [dim_dir]), ("part", [dim_dir]),
                            ("supplier", [inputs.load_dir]),
                            ("orders", fact_dirs), ("lineitem", fact_dirs)):
            self.con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet({_files(dirs, table)})")
        for view, sql in (("customers", fx.SQL_CUSTOMERS),
                          ("products", fx.SQL_PRODUCTS),
                          ("stores", fx.SQL_STORES),
                          ("orders_v", fx.SQL_ORDERS),
                          ("orderdetails", fx.SQL_ORDERDETAILS)):
            self.con.execute(f"CREATE VIEW {view} AS {sql}")
        # fact lines as the star join resolves them: every key exists in
        # the generated dims and every order date is inside the calendar
        end = gen.DATES_START + dt.timedelta(days=gen.DATES_DAYS - 1)
        self.con.execute(f"""
            CREATE VIEW lines AS
            SELECT od.OrderID, o.CustomerID, od.ProductID, od.Quantity,
                   od.UnitPrice,
                   CAST(od.UnitPrice * od.Quantity AS DECIMAL(18,2)) AS TotalPrice,
                   o.OrderDate,
                   CAST(strftime(o.OrderDate, '%Y%m%d') AS INTEGER) AS OrderDateKey
            FROM orderdetails od JOIN orders_v o USING (OrderID)
            JOIN customers USING (CustomerID) JOIN products USING (ProductID)
            JOIN stores USING (StoreID)
            WHERE o.OrderDate BETWEEN DATE '{gen.DATES_START}' AND DATE '{end}'""")
        # SCD-2 customer versions: one per (key, name) run, starting on
        # the load or batch date that introduced it
        states = [(inputs.load_dir, gen.INITIAL_LOAD_DATE)] + [
            (b.dir, b.run_date) for b in applied]
        union = " UNION ALL ".join(
            f"SELECT c_custkey AS CustomerID, c_name AS Name, DATE '{d}' AS s "
            f"FROM read_parquet('{p}/customer.parquet')" for p, d in states)
        self.con.execute(f"""
            CREATE VIEW cust_versions AS
            WITH all_states AS ({union}),
            changed AS (
                SELECT *, lag(Name) OVER (PARTITION BY CustomerID ORDER BY s) AS prev
                FROM all_states)
            SELECT CustomerID, s AS StartDate,
                   coalesce(lead(s) OVER (PARTITION BY CustomerID ORDER BY s)
                            - INTERVAL 1 DAY, {SENTINEL})::DATE AS EndDate
            FROM changed WHERE prev IS NULL OR prev <> Name""")

    def fact_totals(self) -> tuple[int, Decimal]:
        n, total = self.con.execute(
            "SELECT count(*), sum(TotalPrice) FROM lines").fetchone()
        return n, total

    # -- star queries -------------------------------------------------------
    def query(self, shape: str, q: gen.QueryParams) -> list[tuple]:
        sql = {
            "a": f"""SELECT CAST(month(l.OrderDate) AS INTEGER) AS month,
                            c.MktSegment, sum(l.TotalPrice) AS revenue
                     FROM lines l JOIN customers c USING (CustomerID)
                     WHERE year(l.OrderDate) = {q.year}
                     GROUP BY ALL ORDER BY month, MktSegment""",
            "b": """SELECT p.Brand, sum(l.TotalPrice) AS revenue
                    FROM lines l JOIN products p USING (ProductID)
                    GROUP BY ALL ORDER BY revenue DESC, Brand LIMIT 10""",
            "c": f"""SELECT count(*) AS line_count,
                            count(DISTINCT (v.CustomerID, v.StartDate)) AS versions,
                            sum(l.TotalPrice) AS revenue
                     FROM lines l JOIN cust_versions v
                       ON l.CustomerID = v.CustomerID
                      AND l.OrderDate BETWEEN v.StartDate AND v.EndDate
                     WHERE l.OrderDate >= DATE '{q.asof_start}'
                       AND l.OrderDate < DATE '{q.asof_start}' + INTERVAL 14 DAY""",
            "d": f"""SELECT ProductID, Quantity, UnitPrice, TotalPrice, OrderDateKey
                     FROM lines WHERE OrderID = {q.order_id}
                     ORDER BY ProductID""",
            "e": f"""SELECT OrderDateKey, count(*) AS lines FROM lines
                     WHERE OrderDate >= DATE '{q.week_start}'
                       AND OrderDate < DATE '{q.week_start}' + INTERVAL 7 DAY
                     GROUP BY ALL ORDER BY OrderDateKey""",
        }[shape]
        return [tuple(r) for r in self.con.execute(sql).fetchall()]


# -- checks of what the catalog published ----------------------------------
def _committed(con: duckdb.DuckDBPyConnection, warehouse: str, table: str) -> str:
    version = Catalog(warehouse).manifest()[table]
    vdir = os.path.join(warehouse, table, f"v={version}")
    return f"read_parquet('{vdir}/**/*.parquet')"


def dim_state(warehouse: str) -> dict[str, tuple[int, int, int]]:
    """dim -> (all versions, current rows, distinct current keys)."""
    con = duckdb.connect()
    out = {}
    for dim, (key, _) in DIMS.items():
        out[dim] = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE EndDate = {SENTINEL}), "
            f"count(DISTINCT {key}) FILTER (WHERE EndDate = {SENTINEL}) "
            f"FROM {_committed(con, warehouse, dim)}").fetchone()
    return out


def fact_state(warehouse: str) -> tuple[int, Decimal]:
    con = duckdb.connect()
    return con.execute(
        "SELECT count(*), sum(TotalPrice) FROM "
        + _committed(con, warehouse, "fact_orders")).fetchone()


def check_load(warehouse: str, inputs: gen.Inputs,
               expected: tuple[int, Decimal]) -> list[str]:
    """A full load: fact count and revenue equal the oracle's, and every
    dim has exactly one current row per business key."""
    problems = []
    got = fact_state(warehouse)
    if got != expected:
        problems.append(f"fact_orders (rows, revenue) {got} != oracle {expected}")
    for dim, (versions, current, keys) in dim_state(warehouse).items():
        want = inputs.rows_per_source[DIMS[dim][1]]
        if not versions == current == keys == want:
            problems.append(f"{dim}: versions/current/keys {versions}/{current}/{keys},"
                            f" want {want} each")
    return problems


def check_batch(warehouse: str, batch: gen.Batch,
                before_dims: dict[str, tuple[int, int, int]],
                before_fact: tuple[int, Decimal]) -> list[str]:
    """An incremental batch: current rows unchanged, versions up by exactly
    the changed keys, fact rows and revenue up by exactly the slice."""
    problems = []
    changed = {"dim_customers": batch.customers_changed,
               "dim_products": batch.products_changed, "dim_stores": 0}
    after = dim_state(warehouse)
    for dim, (versions, current, keys) in after.items():
        b_versions, b_current, _ = before_dims[dim]
        want = (b_versions + changed[dim], b_current, b_current)
        if (versions, current, keys) != want:
            problems.append(f"{dim}: versions/current/keys {(versions, current, keys)}"
                            f" != {want}")
    rows, revenue = fact_state(warehouse)
    want_fact = (before_fact[0] + batch.fact_rows,
                 before_fact[1] + Decimal(batch.revenue_cents) / 100)
    if (rows, revenue) != want_fact:
        problems.append(f"fact_orders (rows, revenue) {(rows, revenue)} != {want_fact}")
    return problems
