"""Streaming tests: changelog source exactly-once delivery across commits,
watermarked windows, session windows, custom stateful operator. All run
with availableNow triggers into memory sinks (bounded, deterministic).
"""

import time

import pyspark.sql.functions as F
import pytest

from paimon_presto_spark.streaming import changelog_stream, sessionized, tumbling_counts
from paimon_presto_spark.streaming.windows import running_totals_stateful


def _run_to_memory(sdf, name, tmp_path, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}-{time.time_ns()}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_changelog_stream_across_commits(spark, catalog, tmp_path):
    t = catalog.create_table("default", "chg", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.delete(spark.createDataFrame([(1, "a")], "k int, v string"))

    sdf = changelog_stream(spark, t)
    _run_to_memory(sdf, "chg", tmp_path)
    rows = spark.sql("SELECT k, __row_kind, __seq FROM chg ORDER BY __seq, k").collect()
    got = [(r["k"], r["__row_kind"], r["__seq"]) for r in rows]
    assert got == [(1, "I", 1), (2, "I", 1), (1, "D", 2)]

    # exactly-once across restarts: new commit, same checkpoint dir would
    # resume; with a fresh run we see all three change rows again plus the new
    t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"))
    _run_to_memory(changelog_stream(spark, t), "chg2", tmp_path)
    assert spark.table("chg2").count() == 4


def test_changelog_stream_skips_compaction(spark, catalog, tmp_path):
    """compact() rewrites every row into fresh files — a naive file stream
    would re-emit the whole table. The cpt-* naming + glob filter keeps
    rewrites invisible to streaming consumers (mirror of incremental_df
    skipping COMPACT commits)."""
    t = catalog.create_table("default", "chgc", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.delete(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.compact()
    t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"))

    _run_to_memory(changelog_stream(spark, t), "chgc_out", tmp_path)
    rows = spark.sql(
        "SELECT k, __row_kind, __seq FROM chgc_out ORDER BY __seq, k"
    ).collect()
    # exactly the three pre-compact change rows + the post-compact upsert;
    # the rewrite itself contributed nothing
    assert [(r["k"], r["__row_kind"], r["__seq"]) for r in rows] == [
        (1, "I", 1), (2, "I", 1), (1, "D", 2), (3, "I", 4)
    ]
    # while the batch read sees the compacted state
    assert sorted((r["k"], r["v"]) for r in t.to_df().collect()) == [
        (2, "b"), (3, "c")
    ]


def test_tumbling_window_streaming(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:01:00", "click", 1.0),
        (2, "2024-01-01 00:02:00", "click", 2.0),
        (3, "2024-01-01 00:06:00", "view", 3.0),
        (4, "2024-01-01 00:07:30", "click", 4.0),
    ]
    src_dir = tmp_path / "events"
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src_dir))

    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    agg = tumbling_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.format("memory").queryName("tw").outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-tw"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("tw").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:05:00", "view")] == (1, 3.0)
    assert got[("2024-01-01 00:05:00", "click")] == (1, 4.0)


def test_sliding_window_streaming(spark, tmp_path):
    from paimon_presto_spark.streaming.windows import sliding_counts

    rows = [
        (1, "2024-01-01 00:01:00", "click", 1.0),
        (2, "2024-01-01 00:06:00", "click", 2.0),
    ]
    src_dir = tmp_path / "sevents"
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src_dir))

    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    agg = sliding_counts(stream, window="10 minutes", slide="5 minutes")
    q = (
        agg.writeStream.format("memory").queryName("sw").outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-sw"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): (r["n_events"], r["total_value"])
        for r in spark.table("sw").collect()
    }
    # event 1 ∈ [23:55,00:05] and [00:00,00:10]; event 2 ∈ [00:00,00:10] and [00:05,00:15]
    assert got["2023-12-31 23:55:00"] == (1, 1.0)
    assert got["2024-01-01 00:00:00"] == (2, 3.0)
    assert got["2024-01-01 00:05:00"] == (1, 2.0)


def test_stream_stream_interval_join(spark, tmp_path):
    from paimon_presto_spark.streaming.windows import stream_stream_interval_join

    views = [
        (100, "2024-01-01 00:00:00", "view", 0.0),
        (200, "2024-01-01 00:00:00", "view", 0.0),
    ]
    clicks = [
        (100, "2024-01-01 00:04:00", "click", 1.0),   # within 10m of the view
        (200, "2024-01-01 00:30:00", "click", 1.0),   # too late — no match
    ]
    schema = "user_id long, ts string, event_type string, value double"
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    vdf = spark.createDataFrame(views, schema).withColumn("ts", F.to_timestamp("ts"))
    cdf = spark.createDataFrame(clicks, schema).withColumn("ts", F.to_timestamp("ts"))
    vdf.write.parquet(str(vdir))
    cdf.write.parquet(str(cdir))

    vstream = spark.readStream.schema(vdf.schema).parquet(str(vdir))
    cstream = spark.readStream.schema(cdf.schema).parquet(str(cdir))
    joined = stream_stream_interval_join(vstream, cstream, within="10 minutes")
    _run_to_memory(joined, "ssj", tmp_path)
    got = [(r["user_id"], r["left_type"], r["right_type"])
           for r in spark.table("ssj").collect()]
    assert got == [(100, "view", "click")]


def test_session_window_streaming(spark, tmp_path):
    rows = [
        (10, "2024-01-01 00:00:00", 1.0),
        (10, "2024-01-01 00:10:00", 1.0),   # same session (gap < 30m)
        (10, "2024-01-01 01:30:00", 1.0),   # new session
        (20, "2024-01-01 00:00:00", 5.0),
    ]
    src = tmp_path / "sess"
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        sessionized(stream).writeStream.format("memory").queryName("sw")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-sw"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.table("sw").collect()
    )
    assert got == [(10, 1), (10, 2), (20, 1)]


def test_stateful_running_totals(spark, tmp_path):
    src = tmp_path / "run"
    df1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    )
    df1.write.parquet(str(src))
    captured: list = []

    def run_once():
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # which is also the realistic production sink for this operator
        stream = spark.readStream.schema(df1.schema).parquet(str(src))
        q = (
            running_totals_stateful(stream)
            .writeStream.foreachBatch(
                lambda bdf, _bid: captured.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt-rt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r["user_id"]: (r["total"], r["n"]) for r in captured}
    assert got == {1: (15.0, 2), 2: (1.0, 1)}

    # second run resumes state from the SAME checkpoint: only the new files
    # are processed, totals continue from persisted state
    df2 = spark.createDataFrame([(1, 1.0), (3, 7.0)], "user_id long, value double")
    df2.write.mode("append").parquet(str(src))
    captured.clear()
    run_once()
    got2 = {r["user_id"]: (r["total"], r["n"]) for r in captured}
    assert got2 == {1: (16.0, 3), 3: (7.0, 1)}


def test_table_sink_append_and_pipeline(spark, catalog, tmp_path):
    """File stream -> table_sink: micro-batches land as snapshot commits;
    a second availableNow run with the same checkpoint adds only new files;
    and the sink table's changelog is itself streamable (pipeline chaining)."""
    from paimon_presto_spark.streaming import table_sink

    src = tmp_path / "in"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(str(src))
    t = catalog.create_table("default", "sunk", "id long, v string")

    def run():
        stream = spark.readStream.schema("id long, v string").parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(table_sink(t, "ingest"))
            .option("checkpointLocation", str(tmp_path / "ckpt-sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]
    n_snaps_first = len(t.snapshot_ids())

    # restart with same checkpoint: nothing new -> no new snapshot
    run()
    assert len(t.snapshot_ids()) == n_snaps_first

    spark.createDataFrame([(3, "c")], "id long, v string").write.mode("append").parquet(str(src))
    run()
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3]


def test_table_sink_upsert_pk(spark, catalog, tmp_path):
    from paimon_presto_spark.streaming import table_sink

    src = tmp_path / "in2"
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(str(src))
    t = catalog.create_table("default", "sunk_pk", "k long, v string", primary_keys=["k"])

    def run():
        stream = spark.readStream.schema("k long, v string").parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(table_sink(t, "up"))
            .option("checkpointLocation", str(tmp_path / "ckpt-up"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame([(1, "a2")], "k long, v string").write.mode("append").parquet(str(src))
    run()
    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == {1: "a2", 2: "b"}


_SINK_DDL = "k int, v int"
_SINK_TABLES = {
    "append": ([], {}),
    "deduplicate": (["k"], {"bucket": "1"}),
    "aggregation_sum": (["k"], {
        "bucket": "1", "merge-engine": "aggregation",
        "fields.v.aggregate-function": "sum",
    }),
}


def _stream_sink(kind, spark, t, query):
    """Commit one micro-batch ``(rows, batch_id)`` into `t` the way Spark
    drives the named sink: ``table_sink``'s foreachBatch function, or the
    DataSource stream writer's task ``write`` then driver ``commit``."""
    from pyarrow import RecordBatch

    from paimon_presto_spark.sources.datasource import PaimonStreamWriter
    from paimon_presto_spark.streaming import table_sink

    if kind == "table_sink":
        commit = table_sink(t, query)
        return lambda rows, bid: commit(spark.createDataFrame(rows, _SINK_DDL), bid)
    w = PaimonStreamWriter({"path": t.path, "query-name": query}, overwrite=False)
    return lambda rows, bid: w.commit(
        [w.write(iter([RecordBatch.from_pylist(
            [{"k": k, "v": v} for k, v in rows])]))], bid
    )


def _crash_after_publish_once(monkeypatch):
    """Make the first commit die after its snapshot is published:
    ``_maybe_auto_expire`` runs inside ``Table._commit`` right after the
    publish."""
    from paimon_presto_spark.table import Table

    real, crashed = Table._maybe_auto_expire, []

    def crash(self, schema):
        if not crashed:
            crashed.append(True)
            raise OSError("injected crash after publish")
        return real(self, schema)

    monkeypatch.setattr(Table, "_maybe_auto_expire", crash)


@pytest.mark.parametrize("table_kind", sorted(_SINK_TABLES))
@pytest.mark.parametrize("sink", ["table_sink", "stream_writer"])
def test_sink_replay_after_crash_commits_once(
    spark, catalog, monkeypatch, sink, table_kind
):
    """A batch whose commit published its snapshot and then crashed is
    found in the snapshot log on replay and skipped: the table holds its
    rows once (an aggregation ``sum`` does not double), and the next
    batch still lands."""
    pks, opts = _SINK_TABLES[table_kind]
    t = catalog.create_table("default", f"crash_{sink}_{table_kind}", _SINK_DDL,
                             primary_keys=pks, options=opts)
    commit = _stream_sink(sink, spark, t, "q")
    batch0 = [(1, 10), (2, 20)]
    _crash_after_publish_once(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        commit(batch0, 0)
    commit(batch0, 0)  # Spark replays the batch after the restart
    assert sorted(tuple(r) for r in t.to_df().collect()) == batch0
    assert t.snapshot_ids() == [1]
    assert t.latest_identifier("stream:q") == 0

    commit([(1, 5)], 1)
    assert t.snapshot_ids() == [1, 2]
    assert sorted(tuple(r) for r in t.to_df().collect()) == {
        "append": [(1, 5), (1, 10), (2, 20)],
        "deduplicate": [(1, 5), (2, 20)],
        "aggregation_sum": [(1, 15), (2, 20)],
    }[table_kind]


@pytest.mark.parametrize("sink", ["table_sink", "stream_writer"])
def test_sink_high_water_mark_survives_foreign_commits(spark, catalog, sink):
    """A stream's high-water mark is its newest snapshot; commits of other
    users after it, here a plain upsert and the auto-compaction it
    triggers, do not hide it. The mark needs no retention of its own:
    it lives as long as that snapshot, which expiry's
    ``snapshot.num-retained.min`` (default 10) keeps, as in Paimon."""
    t = catalog.create_table(
        "default", f"mark_{sink}", _SINK_DDL, primary_keys=["k"],
        options={"bucket": "1", "num-sorted-run.compaction-trigger": "2"},
    )
    commit = _stream_sink(sink, spark, t, "ingest")
    commit([(1, 10)], 0)
    t.upsert(spark.createDataFrame([(2, 20)], _SINK_DDL))  # compacts too
    assert [t.snapshot(i).commit_kind for i in t.snapshot_ids()] == [
        "UPSERT", "UPSERT", "COMPACT"]

    commit([(1, 99)], 0)  # replay: skipped
    assert t.snapshot_ids() == [1, 2, 3]
    assert sorted(tuple(r) for r in t.to_df().collect()) == [(1, 10), (2, 20)]
    snaps = catalog.read_table("default", f"mark_{sink}$snapshots")
    first = snaps.filter("snapshot_id = 1").first()
    assert (first["commit_user"], first["commit_identifier"]) == ("stream:ingest", 0)
    assert snaps.filter("commit_user = 'stream:ingest'").count() == 1


def test_changelog_stream_from_snapshot(spark, catalog, tmp_path):
    from paimon_presto_spark.streaming import changelog_stream

    t = catalog.create_table("default", "chg_from", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))     # snapshot 1
    t.upsert(spark.createDataFrame([(2, "b")], "k int, v string"))     # snapshot 2
    t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"))     # snapshot 3

    sdf = changelog_stream(spark, t, starting_snapshot=2)
    _run_to_memory(sdf, "chg_from", tmp_path)
    rows = spark.sql("SELECT k, __seq FROM chg_from ORDER BY __seq").collect()
    assert [(r["k"], r["__seq"]) for r in rows] == [(2, 2), (3, 3)]


def test_consumer_id_streaming(spark, catalog, tmp_path):
    """Paimon consumer-id mode: first run registers + reads everything and
    advances the position; a later run with a FRESH checkpoint resumes
    from the recorded position instead of replaying history; retention
    respects the recorded position throughout."""
    from paimon_presto_spark.streaming import track_consumer

    t = catalog.create_table("default", "cons", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))   # snap 1
    t.upsert(spark.createDataFrame([(2, "b")], "k int, v string"))   # snap 2

    sdf = changelog_stream(spark, t, consumer_id="etl")
    q = (
        sdf.writeStream.foreachBatch(track_consumer(t, "etl"))
        .option("checkpointLocation", str(tmp_path / "c1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert t.list_consumers()["etl"] == 3  # past snapshots 1 and 2

    # new commits, then a FRESH checkpoint: only unread commits arrive
    t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"))   # snap 3
    got = []
    q2 = (
        changelog_stream(spark, t, consumer_id="etl")
        .writeStream.foreachBatch(
            track_consumer(t, "etl", lambda df, bid: got.extend(
                (r["k"], r["__seq"]) for r in df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "c2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert sorted(got) == [(3, 3)]
    assert t.list_consumers()["etl"] == 4

    # the consumer pins retention while it lags; dropping it releases
    t.register_consumer("lagging", 1)
    t.compact()
    t.expire_snapshots(keep_last=1)
    assert 1 in t.snapshot_ids()  # pinned by the lagging consumer
    t.drop_consumer("lagging")
    t.expire_snapshots(keep_last=1)
    assert 1 not in t.snapshot_ids()


def test_retraction_stream(spark, catalog, tmp_path):
    """retraction=True streams the lookup-producer changelog: UB/UA pairs
    let a downstream consumer subtract pre-images instead of re-reading."""
    t = catalog.create_table(
        "default", "retr", "k int, v string", primary_keys=["k"],
        options={"changelog-producer": "lookup"},
    )
    ddl = "k int, v string"
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    t.upsert(spark.createDataFrame([(1, "a2")], ddl))
    t.delete(spark.createDataFrame([(2, "b")], ddl))

    sdf = changelog_stream(spark, t, retraction=True)
    _run_to_memory(sdf, "retr_out", tmp_path)
    rows = [
        (r["k"], r["v"], r["__row_kind"], r["__seq"])
        for r in spark.sql(
            "SELECT * FROM retr_out ORDER BY __seq, __row_kind, k").collect()
    ]
    assert rows == [
        (1, "a", "I", 1), (2, "b", "I", 1),
        (1, "a2", "UA", 2), (1, "a", "UB", 2),
        (2, "b", "D", 3),
    ]

    # plain-table streams reject retraction mode
    t2 = catalog.create_table("default", "retr2", "k int", primary_keys=["k"])
    with pytest.raises(ValueError, match="lookup"):
        changelog_stream(spark, t2, retraction=True)


def test_lookup_join_refreshes_dimension(spark, catalog, tmp_path):
    """lookup_join enriches each micro-batch against the dimension's
    CURRENT snapshot: a dim update between batches is visible to the next
    batch (stream-static joins would serve the stale plan forever)."""
    from paimon_presto_spark.streaming import lookup_join

    dim = catalog.create_table(
        "default", "dim", "cust int, tier string", primary_keys=["cust"])
    dim.upsert(spark.createDataFrame([(1, "gold"), (2, "iron")],
                                     "cust int, tier string"))

    fact = catalog.create_table("default", "fact", "cust int, amt int",
                                primary_keys=["cust"])
    got = []

    def collect_sink(df, bid):
        got.extend((r["cust"], r["amt"], r["tier"]) for r in df.collect())

    def run_once(ckpt):
        q = (
            changelog_stream(spark, fact)
            .writeStream.foreachBatch(lookup_join(dim, "cust", collect_sink))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    fact.upsert(spark.createDataFrame([(1, 10), (2, 20)], "cust int, amt int"))
    run_once("l1")
    assert sorted(got) == [(1, 10, "gold"), (2, 20, "iron")]

    # dim changes between batches; the same checkpoint's next batch sees it
    dim.upsert(spark.createDataFrame([(2, "silver")], "cust int, tier string"))
    got.clear()
    fact.upsert(spark.createDataFrame([(2, 25), (3, 30)], "cust int, amt int"))
    run_once("l1")
    assert sorted(got) == [(2, 25, "silver"), (3, 30, None)]


def test_streaming_exact_dedup(spark, tmp_path):
    """First occurrence of each distinct content passes; duplicates across
    micro-batches are dropped by content hash (16-byte state keys)."""
    import os

    from paimon_presto_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "docs-src"
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(4, "beta text"), (5, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    deduped = streaming_exact_dedup(stream)
    _run_to_memory(deduped, "sdedup", tmp_path)

    rows = spark.sql("SELECT doc_id, text FROM sdedup").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha text", "beta text", "gamma text"]
    # survivors are first occurrences of their content (batch order holds
    # across files; within-batch duplicate choice is arbitrary but one)
    assert len(rows) == 3
    assert "__text_hash" not in spark.table("sdedup").columns
