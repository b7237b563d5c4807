"""``lake_ingest``: one writer commits a seeded stream of change batches
into a partitioned, bucketed primary-key ``orders`` table; every few
commits a consumer reads the new delta through the changelog stream and a
reader runs a merged count and checksum.

Commit mix per block of ten: seven ``Table.upsert`` batches of 1-3% of the
live keys (about a third of them new keys), one ``Table.delete`` of 1% of
the keys and two ``df.write.format("paimon")`` commits, so both snapshot
commit paths run. Writer-side auto-compaction is on.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import datagen

N_KEYS = 20000
N_CUST = 2000
READ_EVERY = 5
SETUP_REPS = 3
DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
OPTIONS = {"bucket": "2", "num-sorted-run.compaction-trigger": "5"}
BLOCK = ["upsert"] * 7 + ["delete"] + ["ds_write"] * 2
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


class State:
    def __init__(self, run, rep: int):
        from paimon_presto_spark.catalog import Catalog

        self.rng = np.random.default_rng([run.seed, 10])
        self.catalog = Catalog(run.spark, run.path(f"wh{rep}", ""))
        self.catalog.create_database("lake")
        self.table = self.catalog.create_table(
            "lake", "orders", DDL,
            primary_keys=["o_orderkey", "o_orderstatus"],
            partition_keys=["o_orderstatus"], options=OPTIONS,
        )
        base = datagen.orders_frame(self.rng, np.arange(1, N_KEYS + 1), N_CUST)
        self.model = base.set_index("o_orderkey", drop=False)
        self.next_key = N_KEYS + 1
        self.checkpoint = run.path(f"cp{rep}", "")
        self.delta_rows = 0
        self.pending_rows = 0
        self.commits = 0
        self.schedule: list[str] = []
        self.table.upsert(run.spark.createDataFrame(base).coalesce(1))


def _delta_read(run, state: State) -> int:
    """Drive the changelog stream to the latest commit and count its rows."""
    from paimon_presto_spark.streaming import source

    got = []
    stream = source.changelog_stream(run.spark, state.table)
    q = (
        stream.writeStream.foreachBatch(lambda df, _bid: got.append(df.count()))
        .option("checkpointLocation", state.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    with run.tracer.span("streaming.delta_read"):
        q.awaitTermination()
    return sum(got)


def setup(run, rep: int) -> State:
    state = State(run, rep)
    state.delta_rows = _delta_read(run, state)  # the consumer's first catch-up
    return state


def _next_batch(state: State) -> tuple[str, pd.DataFrame]:
    if not state.schedule:
        state.schedule = list(state.rng.permutation(BLOCK))
    kind = state.schedule.pop()
    rng, live = state.rng, state.model.index.to_numpy()
    if kind == "delete":
        keys = rng.choice(live, max(1, len(live) // 100), replace=False)
        return kind, state.model.loc[keys, ["o_orderkey", "o_orderstatus"]].reset_index(drop=True)
    n = int(len(live) * rng.uniform(0.01, 0.03))
    n_new = n // 3
    old = rng.choice(live, n - n_new, replace=False)
    keys = np.concatenate([old, np.arange(state.next_key, state.next_key + n_new)])
    state.next_key += n_new
    return kind, datagen.orders_frame(rng, keys, N_CUST)


def _commit(run, state: State, kind: str, df) -> None:
    t = state.table
    if kind == "upsert":
        t.upsert(df)
    elif kind == "delete":
        t.delete(df)
    else:
        with run.tracer.span("datasource.write"):
            df.write.format("paimon").option("path", t.path).mode("append").save()


def _merged_read(state: State):
    from pyspark.sql import functions as F

    return state.table.to_df().agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.sum("o_orderkey").alias("keys"),
    ).collect()[0]


def step(run, state: State) -> None:
    kind, pdf = _next_batch(state)
    df = run.spark.createDataFrame(pdf).coalesce(1)  # one writer task
    ok, _ = run.timed(f"commit.{kind}", _commit, run, state, kind, df)
    if ok:
        if kind == "delete":
            state.model = state.model.drop(index=pdf["o_orderkey"].to_numpy())
        else:
            upd = pdf.set_index("o_orderkey", drop=False)
            state.model = pd.concat([state.model.drop(index=upd.index, errors="ignore"), upd])
        state.pending_rows += len(pdf)
    state.commits += 1
    if state.commits % READ_EVERY:
        return
    ok, rows = run.timed("delta_read", _delta_read, run, state)
    if ok:
        run.check(f"delta_rows@{state.commits}", rows == state.pending_rows,
                  f"stream delivered {rows}, commits wrote {state.pending_rows}")
        state.delta_rows += rows
        state.pending_rows = 0
    ok, got = run.timed("read_after_write", _merged_read, state)
    if ok:
        want = datagen.digest(state.model, "o_orderkey", "o_totalprice")
        run.check(f"merged_read@{state.commits}", tuple(got) == want, f"got {tuple(got)} want {want}")


def at_boundary(state: State) -> bool:
    """Stop only after whole blocks of ten commits (and their reads)."""
    return state.commits % len(BLOCK) == 0


def warmup(run, state: State) -> None:
    """One commit of each kind plus both reads, on the set-up table."""
    state.schedule = ["ds_write", "delete", "upsert"]
    state.commits = READ_EVERY - len(state.schedule)  # the reads follow the last commit
    while state.schedule:
        step(run, state)
    state.commits = 0


def check(run, state: State) -> None:
    """The final merged table equals the model of every committed batch."""
    got = state.table.to_df().select(*COLS).toPandas()
    want = state.model[COLS].reset_index(drop=True)
    got = got.sort_values("o_orderkey").reset_index(drop=True)
    want = want.sort_values("o_orderkey").reset_index(drop=True)
    got["o_orderdate"] = got["o_orderdate"].astype("datetime64[us]")
    want["o_orderdate"] = want["o_orderdate"].astype("datetime64[us]")
    same = len(got) == len(want) and got.equals(want)
    run.check("final_state", same, f"{len(got)} rows vs model {len(want)}")


def layer_extra(run, state: State) -> dict[str, float]:
    """Space amplification: bytes under the table directory over the bytes
    of the live rows written once into a fresh table."""
    fresh = state.catalog.create_table(
        "lake", "orders_once", DDL,
        primary_keys=["o_orderkey", "o_orderstatus"],
        partition_keys=["o_orderstatus"], options={"bucket": OPTIONS["bucket"]},
    )
    fresh.upsert(run.spark.createDataFrame(state.model[COLS].reset_index(drop=True)).coalesce(1))
    return {
        "table.space_amp": _dir_bytes(state.table.path) / _dir_bytes(fresh.path),
        "streaming.delta_rows": float(state.delta_rows),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


