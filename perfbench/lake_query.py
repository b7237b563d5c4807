"""``lake_query``: reads only, after a set-up that loads a TPC-H-shaped
schema into Paimon tables through ``Catalog``.

Set-up: ``lineitem`` (primary key, bucketed, bloom index on
``l_orderkey``) is loaded in two upserts (the first with some stale
prices, the second with the rest and the corrected rows), so two sorted
runs remain; ``orders`` (primary key,
partitioned by status) is loaded with stale prices, sort-compacted on the
key, then corrected; the dimensions are append tables. Tags and all
snapshots are kept.

Loop: blocks of ten operations in seed-shuffled order, each holding the
six TPC-H-shaped ``spark.sql`` query classes once (views from
``Catalog.read_table``) and the four lookup kinds once: primary-key point lookups through ``Table.scan(predicate=...)``,
partition-pruned key-range scans, ``spark.read.format("paimon")`` reads
with pushed filters, and time-travel reads by snapshot id and by tag.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

import datagen

SETUP_REPS = 1  # one load: a second would not fit the per-run time budget
N_ORDERS = 4000
QUERY_CLASSES = ("q1", "q3", "q5", "q6", "q10", "q18")
LOOKUP_CLASSES = ("pk_point", "range_pruned", "ds_filtered", "time_travel")
BLOCK = ["query"] * 6 + ["lookup"] * 4
DIMS = ("region", "nation", "customer", "supplier")
QUERY_TABLES = {
    "q1": ("lineitem",),
    "q3": ("customer", "orders", "lineitem"),
    "q5": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q6": ("lineitem",),
    "q10": ("customer", "orders", "lineitem", "nation"),
    "q18": ("customer", "orders", "lineitem"),
}
REV = "round(sum(l_extendedprice * (1 - l_discount)), 4)"


def query_sql(cls: str, rng: np.random.Generator) -> str:
    """A TPC-H-shaped query of class `cls` with seeded parameters."""
    year = int(rng.integers(1993, 1998))
    if cls == "q1":
        return f"""
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base, {REV} AS sum_disc,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_discount), 8) AS avg_disc, count(*) AS n
            FROM lineitem
            WHERE l_shipdate <= date_sub(DATE '1998-12-01', {int(rng.integers(60, 121))})
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
    if cls == "q3":
        d = f"1995-03-{int(rng.integers(1, 29)):02d}"
        seg = datagen.SEGMENTS[int(rng.integers(0, 5))]
        return f"""
            SELECT l_orderkey, {REV} AS revenue, o_orderdate, o_orderpriority
            FROM customer JOIN orders ON c_custkey = o_custkey
                 JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}'
              AND l_shipdate > DATE '{d}'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
    if cls == "q5":
        region = datagen.REGIONS[int(rng.integers(0, 5))]
        return f"""
            SELECT n_name, {REV} AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = '{region}' AND o_orderdate >= DATE '{year}-01-01'
              AND o_orderdate < DATE '{year + 1}-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""
    if cls == "q6":
        disc = int(rng.integers(2, 10)) / 100
        return f"""
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue, count(*) AS n
            FROM lineitem
            WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{year + 1}-01-01'
              AND l_discount BETWEEN {disc - 0.011:.3f} AND {disc + 0.011:.3f}
              AND l_quantity < {int(rng.integers(24, 26))}"""
    if cls == "q10":
        d = f"{year}-{int(rng.integers(1, 13)):02d}-01"
        return f"""
            SELECT c_custkey, c_name, {REV} AS revenue, c_acctbal, n_name
            FROM customer JOIN orders ON c_custkey = o_custkey
                 JOIN lineitem ON l_orderkey = o_orderkey
                 JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= DATE '{d}' AND o_orderdate < add_months(DATE '{d}', 3)
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20"""
    if cls == "q18":
        return f"""
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   sum(l_quantity) AS qty
            FROM customer JOIN orders ON c_custkey = o_custkey
                 JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                                 HAVING sum(l_quantity) > {int(rng.integers(240, 280))})
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""
    raise ValueError(cls)


class State:
    def __init__(self, run, rep: int):
        from paimon_presto_spark.catalog import Catalog

        spark = run.spark
        self.rng = np.random.default_rng([run.seed, 20])
        self.data = datagen.tpch_tables(run.seed, N_ORDERS)
        self.raw_dir = run.path(f"raw{rep}", "")
        datagen.write_parquet(self.raw_dir, self.data)
        cat = self.catalog = Catalog(spark, run.path(f"wh{rep}", ""))
        cat.create_database("tpch")
        for name in DIMS:
            t = cat.create_table("tpch", name, spark.createDataFrame(self.data[name]).schema)
            t.append(spark.createDataFrame(self.data[name]).coalesce(1))

        li_final = self.data["lineitem"]
        mask1 = (li_final["l_orderkey"] % 5 != 0).to_numpy()
        stale_idx = self.rng.choice(np.flatnonzero(mask1), len(li_final) // 10, replace=False)
        c1 = li_final[mask1].copy()
        c1.loc[stale_idx, "l_extendedprice"] += 1.0
        c2 = pd.concat([li_final[~mask1], li_final.loc[stale_idx]], ignore_index=True)
        self.lineitem = cat.create_table(
            "tpch", "lineitem", spark.createDataFrame(li_final).schema,
            primary_keys=["l_orderkey", "l_linenumber"],
            options={"bucket": "4", "file-index.bloom-filter.columns": "l_orderkey"},
        )
        self.lineitem.upsert(spark.createDataFrame(c1).coalesce(2))
        self.lineitem.create_tag("first_load")
        self.lineitem.upsert(spark.createDataFrame(c2).coalesce(2))

        o_final = self.data["orders"]
        stale_o = self.rng.choice(len(o_final), len(o_final) // 20, replace=False)
        o_first = o_final.copy()
        o_first.loc[stale_o, "o_totalprice"] += 1.0
        self.orders = cat.create_table(
            "tpch", "orders", spark.createDataFrame(o_final).schema,
            primary_keys=["o_orderkey", "o_orderstatus"],
            partition_keys=["o_orderstatus"], options={"bucket": "2"},
        )
        self.orders.upsert(spark.createDataFrame(o_first).coalesce(2))
        self.orders.compact(sort_by=["o_orderkey"])
        self.orders.create_tag("sorted")
        self.orders.upsert(spark.createDataFrame(o_final.iloc[stale_o]).coalesce(1))

        # expected digests of the older versions, for time-travel reads
        self.versions = [
            (self.lineitem, {"snapshot_id": 1}, datagen.digest(c1, "l_orderkey", "l_extendedprice")),
            (self.lineitem, {"tag": "first_load"}, datagen.digest(c1, "l_orderkey", "l_extendedprice")),
            (self.orders, {"snapshot_id": 1}, datagen.digest(o_first, "o_orderkey", "o_totalprice")),
            (self.orders, {"tag": "sorted"}, datagen.digest(o_first, "o_orderkey", "o_totalprice")),
        ]
        self.schedule: list[str] = []
        self.n_lookup = 0
        self.n_query = 0
        self.ds_frames: list = []
        self.query_results: list[tuple[str, str, list]] = []


def setup(run, rep: int) -> State:
    return State(run, rep)


# -- operations ------------------------------------------------------------


def _run_query(run, state: State, cls: str, sql: str) -> list:
    spark = run.spark
    with run.tracer.span(f"query.{cls}.build"):
        for name in QUERY_TABLES[cls]:
            state.catalog.read_table("tpch", name).createOrReplaceTempView(name)
        df = spark.sql(sql)
    with run.tracer.span(f"query.{cls}.action"):
        return [tuple(r) for r in df.collect()]


def _scan_digest(run, table, key: str, price: str, **scan_kwargs) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    with run.tracer.span("scan.action"):
        r = table.scan(**scan_kwargs).to_df().agg(
            F.count("*"),
            F.sum(F.round(F.col(price) * 100).cast("long")),
            F.sum(key),
        ).collect()[0]
    return tuple(int(v or 0) for v in r)


def _lookup(run, state: State, kind: str):
    """Run one lookup; returns (result, expected)."""
    from pyspark.sql import functions as F

    from paimon_presto_spark.plans.predicate import P

    rng = state.rng
    li, orders = state.data["lineitem"], state.data["orders"]
    if kind == "pk_point":
        row = li.iloc[int(rng.integers(0, len(li)))]
        pred = P.and_(P.eq("l_orderkey", int(row.l_orderkey)), P.eq("l_linenumber", int(row.l_linenumber)))
        with run.tracer.span("scan.action"):
            got = state.lineitem.scan(predicate=pred).to_df().select("l_orderkey", "l_linenumber", "l_extendedprice").collect()
        return [tuple(r) for r in got], [(int(row.l_orderkey), int(row.l_linenumber), float(row.l_extendedprice))]
    if kind == "range_pruned":
        status = datagen.STATUSES[int(rng.integers(0, 3))]
        lo = int(rng.integers(1, len(orders) - 600))
        hi = lo + 600
        pred = P.and_(P.eq("o_orderstatus", status), P.between("o_orderkey", lo, hi))
        got = _scan_digest(run, state.orders, "o_orderkey", "o_totalprice", predicate=pred)
        sel = orders[(orders.o_orderstatus == status) & orders.o_orderkey.between(lo, hi)]
        return got, datagen.digest(sel, "o_orderkey", "o_totalprice")
    if kind == "ds_filtered":
        lo = int(rng.integers(1, len(orders) - 50))
        with run.tracer.span("datasource.read"):
            df = (
                run.spark.read.format("paimon").option("path", state.lineitem.path).load()
                .filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < lo + 50))
            )
            r = df.agg(
                F.count("*"), F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
                F.sum("l_orderkey"),
            ).collect()[0]
        if run.trace:
            state.ds_frames.append(df)  # input partitions are counted after the loop
        sel = li[(li.l_orderkey >= lo) & (li.l_orderkey < lo + 50)]
        return tuple(int(v or 0) for v in r), datagen.digest(sel, "l_orderkey", "l_extendedprice")
    if kind == "time_travel":
        table, kw, want = state.versions[int(rng.integers(0, len(state.versions)))]
        key, price = ("l_orderkey", "l_extendedprice") if table is state.lineitem else ("o_orderkey", "o_totalprice")
        return _scan_digest(run, table, key, price, **kw), want
    raise ValueError(kind)


def step(run, state: State) -> None:
    if not state.schedule:
        state.schedule = list(state.rng.permutation(BLOCK))
    if state.schedule.pop() == "query":
        cls = QUERY_CLASSES[state.n_query % len(QUERY_CLASSES)]
        state.n_query += 1
        sql = query_sql(cls, state.rng)
        ok, rows = run.timed(f"query.{cls}", _run_query, run, state, cls, sql)
        if ok:
            state.query_results.append((cls, sql, rows))
    else:
        kind = LOOKUP_CLASSES[state.n_lookup % len(LOOKUP_CLASSES)]
        state.n_lookup += 1
        ok, out = run.timed(f"lookup.{kind}", _lookup, run, state, kind)
        if ok:
            got, want = out
            run.check(f"lookup.{kind}", _same_rows(got, want), f"got {got} want {want}")


def warmup(run, state: State) -> None:
    """The cheapest query class and a DataSource read, the two first uses
    that cost seconds; the first ``Table.scan`` costs about what later ones
    do, after the set-up's commits."""
    run.timed("query.q1", _run_query, run, state, "q1", query_sql("q1", state.rng))
    run.timed("lookup.ds_filtered", _lookup, run, state, "ds_filtered")


def at_boundary(state: State) -> bool:
    """Stop only after whole blocks, so every run has the same op mix."""
    return not state.schedule


def check(run, state: State) -> None:
    """Each query's rows equal the same SQL over the raw parquet files."""
    raw = run.spark.newSession()
    for name in state.data:
        raw.read.parquet(f"{state.raw_dir}/{name}.parquet").createOrReplaceTempView(name)
    for i, (cls, sql, rows) in enumerate(state.query_results):
        want = [tuple(r) for r in raw.sql(sql).collect()]
        run.check(f"query.{cls}#{i}", _same_rows(rows, want), f"{len(rows)} rows vs {len(want)}")


def _same_rows(a, b) -> bool:
    """Order-insensitive row equality, floats within a relative 1e-9."""
    a, b = list(a) if isinstance(a, list) else [a], list(b) if isinstance(b, list) else [b]
    if len(a) != len(b):
        return False

    def key(row):
        return tuple(
            (0, round(v, 3)) if isinstance(v, float) else (1, str(v)) for v in row
        )

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True
