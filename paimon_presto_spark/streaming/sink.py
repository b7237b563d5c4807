"""Streaming sink into the table format: each micro-batch commits one
atomic snapshot.

``foreachBatch`` is the idiomatic Spark shape for transactional sinks whose
commit protocol Spark doesn't know about (here: the manifest swap in
``Table._commit``). Exactly-once comes from the combination of
Spark's checkpointed batch ids and idempotent re-commit filtering: a batch
id that already committed is skipped on replay, so a crashed-and-restarted
query never double-writes.

At scale the per-batch work is a normal distributed write (tasks write
parquet in parallel); only the manifest commit is driver-side, bounded by
file count per batch — the same contract as every lakehouse streaming sink.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from paimon_presto_spark.table import Table


def _committed_batches_path(table: Table, query_name: str) -> str:
    return os.path.join(table.path, "streaming", f"batches-{query_name}.json")


def _load_committed(table: Table, query_name: str) -> set[int]:
    p = _committed_batches_path(table, query_name)
    if not os.path.exists(p):
        return set()
    with open(p) as fh:
        return set(json.load(fh))


def _record_committed(table: Table, query_name: str, batch_id: int) -> None:
    p = _committed_batches_path(table, query_name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    done = _load_committed(table, query_name)
    done.add(batch_id)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(sorted(done), fh)
    os.replace(tmp, p)


def table_sink(table: Table, query_name: str = "default", mode: str = "auto"):
    """Build a ``foreachBatch`` function that commits each micro-batch into
    `table` — ``append`` for plain tables, ``upsert`` for primary-key
    tables (``mode="auto"``), re-delivered batches skipped idempotently.

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

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in _load_committed(table, query_name):
            return  # replay after restart: already durable
        if mode == "upsert":
            table.upsert(batch_df)
        else:
            table.append(batch_df)
        _record_committed(table, query_name, batch_id)

    return commit_batch
