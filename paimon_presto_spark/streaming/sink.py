"""Streaming sink into the table format: each micro-batch commits one
atomic snapshot, and the snapshot log is the ledger.

``foreachBatch`` is the idiomatic Spark shape for transactional sinks whose
commit protocol Spark doesn't know about (here: the snapshot publish in
``Table._commit``). Exactly-once follows Paimon's sink contract: a batch
commits with ``commit_user="stream:<query>"`` and its batch id as
``commit_identifier``, written in the same atomic publish as its data. On
replay, a batch id at or below the query's latest identifier
(``Table.latest_identifier``) has already landed and is skipped, so a
query that crashed anywhere after the publish and restarted never
double-writes — no second ledger can lag behind the commit.

At scale the per-batch work is a normal distributed write (tasks write
parquet in parallel); only the manifest commit is driver-side, bounded by
file count per batch — the same contract as every lakehouse streaming sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from paimon_presto_spark.table import Table


def table_sink(table: Table, query_name: str = "default", mode: str = "auto"):
    """Build a ``foreachBatch`` function that commits each micro-batch into
    `table` — ``append`` for plain tables, ``upsert`` for primary-key
    tables (``mode="auto"``) — as ``commit_user="stream:<query_name>"``,
    ``commit_identifier=<batch id>``; a re-delivered batch is skipped.
    `query_name` must be unique among the table's stream writers.

    Retention: the query's high-water mark lives as long as its newest
    snapshot, as in Paimon. Snapshot expiry keeps the newest
    ``snapshot.num-retained.min`` snapshots (default 10), so a replay
    finds its batch unless that many commits, and an expiry, landed in
    between.

    Usage::

        q = (stream.writeStream
             .foreachBatch(table_sink(t, "ingest"))
             .option("checkpointLocation", ckpt)
             .start())
    """
    if mode == "auto":
        mode = "upsert" if table.is_primary_keyed else "append"
    if mode not in ("append", "upsert"):
        raise ValueError(f"unsupported sink mode {mode!r}")
    user = f"stream:{query_name}"
    write = table.upsert if mode == "upsert" else table.append

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = table.latest_identifier(user)
        if done is not None and batch_id <= done:
            return  # replay after restart: already durable
        write(batch_df, commit_identifier=batch_id, commit_user=user)

    return commit_batch
