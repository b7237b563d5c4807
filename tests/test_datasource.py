"""Python DataSource API face of the table format: read (bucket-aligned
shuffle-free merge-on-read, filter-driven file skipping, time travel) and
task-parallel append/overwrite writes with atomic manifest commit."""

import pytest


@pytest.fixture()
def registered(spark):
    from paimon_presto_spark.sources.datasource import PaimonDataSource

    try:
        spark.dataSource.register(PaimonDataSource)
    except Exception:
        pass  # already registered in this session
    return spark


def _batch(**row):
    """One row as the Arrow batch Spark hands a ``DataSourceArrowWriter``."""
    import pyarrow as pa

    return pa.RecordBatch.from_pylist([row])


def _read(spark, table):
    return spark.read.format("paimon").option("path", table.path).load()


def test_read_append_only(registered, spark, catalog):
    t = catalog.create_table("default", "ds_a", "a int, b string")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"))
    got = sorted((r["a"], r["b"]) for r in _read(spark, t).collect())
    assert got == [(1, "x"), (2, "y"), (3, "z")]


def test_read_pk_merge_on_read(registered, spark, catalog):
    t = catalog.create_table("default", "ds_pk", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))
    t.delete(spark.createDataFrame([(2, "b")], "k int, v string"))
    got = sorted((r["k"], r["v"]) for r in _read(spark, t).collect())
    assert got == [(1, "a2")]
    # matches the DataFrame-path (window-shuffle) merge
    expect = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert got == expect


def test_read_partial_update_engine(registered, spark, catalog):
    t = catalog.create_table(
        "default", "ds_pu", "k int, a string, b int",
        primary_keys=["k"], options={"merge-engine": "partial-update"},
    )
    t.upsert(spark.createDataFrame([(1, "x", None)], "k int, a string, b int"))
    t.upsert(spark.createDataFrame([(1, None, 7)], "k int, a string, b int"))
    rows = _read(spark, t).collect()
    assert [(r["k"], r["a"], r["b"]) for r in rows] == [(1, "x", 7)]


def test_filter_pushdown_skips_files(registered, spark, catalog):
    t = catalog.create_table("default", "ds_f", "a int, b string")
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "a int, b string"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(100, 110)], "a int, b string"))
    df = _read(spark, t).filter("a >= 100")
    got = sorted(r["a"] for r in df.collect())
    assert got == list(range(100, 110))
    # correctness under pushdown + residual re-application
    assert _read(spark, t).filter("a = 5").count() == 1


def test_time_travel_option(registered, spark, catalog):
    t = catalog.create_table("default", "ds_tt", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.append(spark.createDataFrame([(2,)], "a int"))
    df1 = (
        spark.read.format("paimon")
        .option("path", t.path).option("snapshot", "1").load()
    )
    assert [r["a"] for r in df1.collect()] == [1]
    assert _read(spark, t).count() == 2


def test_datasource_write_append_and_overwrite(registered, spark, catalog):
    t = catalog.create_table("default", "ds_w", "a int, b string")
    src = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    src.write.format("paimon").option("path", t.path).mode("append").save()
    assert sorted(r["a"] for r in t.to_df().collect()) == [1, 2]
    # second append accumulates; snapshot log advances
    src.write.format("paimon").option("path", t.path).mode("append").save()
    assert t.to_df().count() == 4
    assert t.snapshot().commit_kind == "APPEND"
    spark.createDataFrame([(9, "z")], "a int, b string").write.format(
        "paimon"
    ).option("path", t.path).mode("overwrite").save()
    assert [(r["a"], r["b"]) for r in t.to_df().collect()] == [(9, "z")]


@pytest.mark.parametrize("pks", [[], ["k"]])
def test_datasource_write_nested_columns_in_declared_types(
    registered, spark, catalog, pks
):
    """DataSource-written files hold nested columns in their declared
    types, the file schema ``Table.to_df`` reads them with: array<int> is
    list<int32>, not the list<int64> Python ints infer to, and a map is a
    map, not a struct inferred from dicts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ddl = "k int, xs array<int>, m map<string,int>, st struct<a:int,b:string>"
    t = catalog.create_table("default", f"ds_nest{len(pks)}", ddl,
                             primary_keys=pks)
    spark.createDataFrame(
        [(1, [1, 2], {"a": 1}, (3, "x")), (2, [], {}, None)], ddl
    ).write.format("paimon").option("path", t.path).mode("append").save()
    for e in t.manifest_entries():
        schema = pq.ParquetFile(os.path.join(t.path, e["path"])).schema_arrow
        assert schema.field("xs").type == pa.list_(pa.int32())
        assert schema.field("m").type == pa.map_(pa.string(), pa.int32())
    got = sorted(tuple(r) for r in t.to_df().collect())
    assert got == [(1, [1, 2], {"a": 1}, (3, "x")), (2, [], {}, None)]


def test_datasource_write_partitioned(registered, spark, catalog):
    t = catalog.create_table(
        "default", "ds_wp", "a int, region string", partition_keys=["region"]
    )
    spark.createDataFrame(
        [(1, "eu"), (2, "us"), (3, "eu")], "a int, region string"
    ).write.format("paimon").option("path", t.path).mode("append").save()
    # partition pruning visible through the Table scan path
    scan = t.scan(partition_where="region = 'eu'")
    assert sorted(r["a"] for r in scan.to_df().collect()) == [1, 3]
    assert scan.last_plan["after_partition_prune"] < scan.last_plan["total_files"] + 1


def test_datasource_write_pk_upsert_delete(registered, spark, catalog):
    """Primary-key writes through the DataSource: upserts, deletes via
    rowkind option, and interop with Table-API writes (same xxhash64
    bucket layout, so merge-on-read spans both write paths)."""
    t = catalog.create_table(
        "default", "ds_wr", "k int, v string", primary_keys=["k"]
    )
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.format(
        "paimon"
    ).option("path", t.path).mode("append").save()
    spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string").write.format(
        "paimon"
    ).option("path", t.path).mode("append").save()
    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}

    # delete via rowkind=D
    spark.createDataFrame([(2, "b")], "k int, v string").write.format(
        "paimon"
    ).option("path", t.path).option("rowkind", "D").mode("append").save()
    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == {1: "a2", 3: "c"}

    # interop: Table-API upsert on the same table, read back via the
    # DataSource's per-bucket merge. If the Python writer's bucket choice
    # diverged from the JVM xxhash64 layout, key 3's two versions would
    # land in different buckets and BOTH would survive this merge.
    t.upsert(spark.createDataFrame([(3, "c2")], "k int, v string"))
    got_ds = {r["k"]: r["v"] for r in _read(spark, t).collect()}
    assert got_ds == {1: "a2", 3: "c2"}
    assert _read(spark, t).count() == 2
    t.compact()
    assert {r["k"]: r["v"] for r in t.to_df().collect()} == {1: "a2", 3: "c2"}

    # overwrite on a pk table is rejected as ambiguous
    with pytest.raises(Exception, match="ambiguous"):
        spark.createDataFrame([(9, "z")], "k int, v string").write.format(
            "paimon"
        ).option("path", t.path).mode("overwrite").save()


@pytest.mark.parametrize("key_type", ["date", "char(4)", "timestamp"])
def test_datasource_write_cobuckets_temporal_and_char_keys(
    registered, spark, catalog, key_type
):
    """A date key hashes its days, a timestamp its micros and a CHAR its
    padded value, as the JVM writer does: each key's DataSource rows
    land in the bucket of its ``Table.upsert`` rows, so the per-bucket
    merge sees both versions and the later one wins."""
    import datetime

    day = datetime.date(2024, 1, 1)
    keys = {
        "date": [day + datetime.timedelta(days=i) for i in range(8)],
        "char(4)": ["a", "bb", "ccc", "dddd", "", "x", "yy", "zzz"],
        "timestamp": [datetime.datetime(2024, 1, 2, 3, 4, i) for i in range(8)],
    }[key_type]
    in_ddl = f"k {'string' if key_type.startswith('char') else key_type}, v string"
    t = catalog.create_table(
        "default", f"ds_key_{key_type[:4]}", f"k {key_type}, v string",
        primary_keys=["k"], options={"bucket": "4"},
    )
    t.upsert(spark.createDataFrame([(k, "table") for k in keys], in_ddl))
    spark.createDataFrame([(k, "ds") for k in keys], in_ddl).write.format(
        "paimon").option("path", t.path).mode("append").save()
    by_writer: dict = {}
    for e in t.manifest_entries():
        by_writer.setdefault(e["path"].split("/")[-1].startswith("data-ds-"),
                             set()).add(e["bucket"])
    assert len(by_writer[False]) > 1  # the keys spread over buckets
    assert by_writer[True] == by_writer[False]
    assert _read(spark, t).count() == len(keys)
    assert {r["v"] for r in _read(spark, t).collect()} == {"ds"}
    assert sorted(r["v"] for r in t.to_df().collect()) == ["ds"] * len(keys)


def test_int_partition_key_pruning_correct(registered, spark, catalog):
    """Regression: partition dir values are strings; an equality filter on
    an int partition column must still match (typed comparison), and must
    actually prune non-matching partitions."""
    t = catalog.create_table(
        "default", "ds_ip", "v string, year int", partition_keys=["year"]
    )
    t.append(spark.createDataFrame(
        [("a", 2023), ("b", 2024), ("c", 2024)], "v string, year int"))
    df = _read(spark, t).filter("year = 2024")
    assert sorted(r["v"] for r in df.collect()) == ["b", "c"]
    assert _read(spark, t).filter("year > 2023").count() == 2
    assert _read(spark, t).filter("year IN (2023)").count() == 1


def test_schema_evolution_projection(registered, spark, catalog):
    """Files written under older schemas render through the current one by
    field id: renames follow, added columns null-fill (A18 contract on the
    DataSource read path)."""
    t = catalog.create_table("default", "ds_ev", "a int, b string")
    t.append(spark.createDataFrame([(1, "x")], "a int, b string"))
    catalog.rename_column("default", "ds_ev", "b", "label")
    catalog.add_column("default", "ds_ev", "score", "double")
    t2 = catalog.get_table("default", "ds_ev")
    t2.append(spark.createDataFrame([(2, "y", 0.5)], "a int, label string, score double"))

    rows = {r["a"]: (r["label"], r["score"]) for r in _read(spark, t2).collect()}
    assert rows == {1: ("x", None), 2: ("y", 0.5)}
    # matches the DataFrame-path projection
    expect = {r["a"]: (r["label"], r["score"]) for r in t2.to_df().collect()}
    assert rows == expect


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_current_read_renders_latest_schema_after_add_column(
    registered, spark, catalog
):
    """A DDL change creates no snapshot: a current read declares the latest
    schema and its splits render in it too (the added column null-fills),
    exactly like ``Table.scan().to_df()``."""
    t = catalog.create_table("default", "ds_ac", "a int, b string")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    catalog.add_column("default", "ds_ac", "c", "double")
    t = catalog.get_table("default", "ds_ac")
    df = _read(spark, t)
    assert df.columns == ["a", "b", "c"]
    assert _rows(df) == _rows(t.scan().to_df()) == [(1, "x", None), (2, "y", None)]


def test_time_travel_read_renders_snapshot_schema(registered, spark, catalog):
    """``option("snapshot")`` declares and renders the schema the snapshot
    was committed under, even after a later commit evolved the schema —
    the same rows ``Table.scan(snapshot_id=...)`` returns."""
    t = catalog.create_table("default", "ds_tts", "a int, b string")
    t.append(spark.createDataFrame([(1, "x")], "a int, b string"))
    catalog.add_column("default", "ds_tts", "c", "double")
    t = catalog.get_table("default", "ds_tts")
    t.append(spark.createDataFrame([(2, "y", 0.5)], "a int, b string, c double"))
    df = (
        spark.read.format("paimon")
        .option("path", t.path).option("snapshot", "1").load()
    )
    assert df.columns == ["a", "b"]
    assert _rows(df) == _rows(t.scan(snapshot_id=1).to_df()) == [(1, "x")]


# aggregate-function -> (column type, two values v1, v2). Three commits:
# key 1 gets v1, v2, NULL; key 2 gets NULL, v1; key 3 only NULL
_AGG_CASES = {
    **{fn: ("int", (10, 5)) for fn in ("sum", "max", "min", "count")},
    **{fn: ("string", ("a", "b"))
       for fn in ("last_non_null", "first_non_null", "last_value",
                  "first_value", "listagg")},
    **{fn: ("boolean", (True, False)) for fn in ("bool_and", "bool_or")},
    "product": ("int", (3, 5)),
    "collect": ("array<int>", ([1], [2, 1])),
    "merge_map": ("map<string,int>", ({"x": 1}, {"x": 2, "y": 3})),
}


@pytest.mark.parametrize("fn", sorted(_AGG_CASES))
def test_read_aggregation_engine(registered, spark, catalog, fn):
    """The DataSource's per-bucket Arrow merge and ``Table.to_df`` agree
    for every aggregate function, on the rows and on the declared types
    (Spark's sum, count and product widen theirs)."""
    typ, (v1, v2) = _AGG_CASES[fn]
    ddl = f"k int, v {typ}"
    t = catalog.create_table(
        "default", "ds_ag", ddl, primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "aggregation",
                 "fields.v.aggregate-function": fn},
    )
    for rows in ([(1, v1), (2, None), (3, None)], [(1, v2), (2, v1)],
                 [(1, None)]):
        t.upsert(spark.createDataFrame(rows, ddl))
    assert _rows(_read(spark, t)) == _rows(t.to_df())
    types = [[(f.name, f.dataType) for f in df.schema]
             for df in (t.to_df(), _read(spark, t))]
    assert types[0] == types[1]
    # key 3 only ever held NULL: it merges to NULL (count: 0) in both
    # readers, as in Paimon
    for df in (t.to_df(), _read(spark, t)):
        assert df.filter("k = 3").collect()[0]["v"] == (0 if fn == "count" else None)


@pytest.mark.parametrize("typ, input_typ, value", [
    ("array<varchar(5)>", "array<string>", ["ab", "cde"]),
    ("struct<a:char(3)>", "struct<a:string>", ("ab",)),
])
def test_read_nested_char_types(registered, spark, catalog, typ, input_typ, value):
    """CHAR/VARCHAR nested in a complex type read as string, as top-level
    ones do: Spark's Arrow conversion for Python data sources rejects
    Char/VarcharType at any depth."""
    t = catalog.create_table("default", "ds_nc", f"k int, v {typ}")
    t.append(spark.createDataFrame([(1, value)], f"k int, v {input_typ}"))
    assert _rows(_read(spark, t)) == _rows(t.to_df())


def test_datasource_branch_read_and_write(registered, spark, catalog):
    """option("branch", name): the DataSource reads and writes a branch
    lineage while sharing data files with main (same split planning,
    pushdown, and commit path — only the metadata root moves)."""
    t = catalog.create_table("default", "dsbr", "a int, v string")
    spark.createDataFrame([(1, "x"), (2, "y")], "a int, v string") \
        .write.format("paimon").option("path", t.path).mode("append").save()
    t.create_branch("dev")
    # write through the DataSource onto the branch
    spark.createDataFrame([(9, "dev")], "a int, v string") \
        .write.format("paimon").option("path", t.path).option("branch", "dev") \
        .mode("append").save()
    branch_rows = sorted(
        (r["a"], r["v"]) for r in
        spark.read.format("paimon").option("path", t.path)
        .option("branch", "dev").load().collect()
    )
    assert branch_rows == [(1, "x"), (2, "y"), (9, "dev")]
    main_rows = sorted((r["a"], r["v"]) for r in _read(spark, t).collect())
    assert main_rows == [(1, "x"), (2, "y")]  # main untouched
    # Table API sees the DataSource's branch commit (shared lineage)
    assert sorted(r["a"] for r in t.branch("dev").to_df().collect()) == [1, 2, 9]
    with pytest.raises(Exception, match="does not exist"):
        spark.read.format("paimon").option("path", t.path) \
            .option("branch", "nope").load().collect()


def test_startswith_pushdown_skips_files(registered, spark, catalog):
    """Spark pushes StringStartsWith to the DataSource; prefix file
    skipping shrinks the split list."""
    t = catalog.create_table("default", "dssw", "name string, v int")
    for prefix in ("alpha", "beta", "gamma"):
        spark.createDataFrame(
            [(f"{prefix}_{i}", i) for i in range(10)], "name string, v int"
        ).coalesce(1).write.format("paimon").option("path", t.path) \
            .mode("append").save()
    df = _read(spark, t).filter("name LIKE 'beta%'")
    assert df.count() == 10
    # all three files committed; the scan plans only the beta one
    assert len(t.manifest_entries()) == 3


class TestStreamReader:
    """spark.readStream.format("paimon") — snapshot-id offsets, exactly-once
    per commit, COMPACT invisible, DV deletes re-emitted, lookup-producer
    tables streaming their retraction changelog."""

    def _register(self, spark):
        from paimon_presto_spark.sources.datasource import PaimonDataSource
        spark.dataSource.register(PaimonDataSource)

    def _run(self, spark, t, tmp_path, name, **opts):
        reader = (
            spark.readStream.format("paimon")
            .option("path", t.path).option("changelog", "true")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load().writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck-{name}"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    def test_stream_across_commits_and_compaction(self, spark, catalog, tmp_path):
        self._register(spark)
        t = catalog.create_table("default", "ds_s1", "k int, v string",
                                 primary_keys=["k"])
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
        t.delete(spark.createDataFrame([(1, "a")], ddl))
        t.compact()  # must emit nothing
        self._run(spark, t, tmp_path, "ds_s1_out")
        rows = [(r["k"], r["__row_kind"], r["__seq"]) for r in
                spark.sql("SELECT * FROM ds_s1_out ORDER BY __seq, k").collect()]
        assert rows == [(1, "I", 1), (2, "I", 1), (1, "D", 2)]

        # restart with same checkpoint: only NEW commits arrive
        t.upsert(spark.createDataFrame([(3, "c")], ddl))
        self._run(spark, t, tmp_path, "ds_s1_out2")  # fresh sink, fresh ckpt
        assert spark.table("ds_s1_out2").count() == 4  # full history again

    def test_consumer_option_records_progress(self, spark, catalog, tmp_path):
        """Source commit() acknowledges a batch on the NEXT run's recovery
        (Spark's source-commit protocol), advancing the consumer file; a
        fresh checkpoint with the same consumer-id resumes from it."""
        self._register(spark)
        t = catalog.create_table("default", "ds_s2", "k int", primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        out = str(tmp_path / "ds_s2_files")
        ck = str(tmp_path / "ds_s2_ck")

        def run_files():
            q = (
                spark.readStream.format("paimon").option("path", t.path)
                .option("changelog", "true").option("consumer-id", "stream")
                .load().writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        run_files()
        assert "stream" not in t.list_consumers()  # batch 0 not yet acked
        t.upsert(spark.createDataFrame([(2,)], "k int"))
        run_files()  # recovery acks batch 0 → consumer past snapshot 1
        assert t.list_consumers()["stream"] == 2
        # exactly-once across restarts: each snapshot's row delivered once
        assert spark.read.parquet(out).count() == 2

        # a FRESH checkpoint with the same consumer id resumes from the
        # recorded position instead of replaying history
        self._run(spark, t, tmp_path, "ds_s2_out2", **{"consumer-id": "stream"})
        got = {r["k"] for r in spark.table("ds_s2_out2").collect()}
        assert got == {2}

    def test_dv_deletes_stream_as_d_rows(self, spark, catalog, tmp_path):
        self._register(spark)
        t = catalog.create_table(
            "default", "ds_s3", "k int, v string", primary_keys=["k"],
            options={"deletion-vectors.enabled": "true"})
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
        t.delete(spark.createDataFrame([(2, "b")], ddl))   # DV-only commit
        self._run(spark, t, tmp_path, "ds_s3_out")
        rows = [(r["k"], r["v"], r["__row_kind"], r["__seq"]) for r in
                spark.sql("SELECT * FROM ds_s3_out ORDER BY __seq, k").collect()]
        assert rows == [(1, "a", "I", 1), (2, "b", "I", 1), (2, "b", "D", 2)]

    def test_lookup_producer_streams_retractions(self, spark, catalog, tmp_path):
        self._register(spark)
        t = catalog.create_table(
            "default", "ds_s4", "k int, v string", primary_keys=["k"],
            options={"changelog-producer": "lookup"})
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a")], ddl))
        t.upsert(spark.createDataFrame([(1, "a2")], ddl))
        self._run(spark, t, tmp_path, "ds_s4_out")
        rows = [(r["k"], r["v"], r["__row_kind"]) for r in spark.sql(
            "SELECT * FROM ds_s4_out ORDER BY __seq, __row_kind").collect()]
        assert rows == [(1, "a", "I"), (1, "a2", "UA"), (1, "a", "UB")]

    def test_stream_renders_declared_schema_across_add_column(
        self, spark, catalog, tmp_path
    ):
        """Every commit in the range renders in the stream's declared
        (latest) schema: a commit made before ``add_column`` null-fills the
        new column instead of returning fewer columns than declared."""
        self._register(spark)
        t = catalog.create_table("default", "ds_sev", "k int, v string",
                                 primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
        catalog.add_column("default", "ds_sev", "w", "int")
        t = catalog.get_table("default", "ds_sev")
        t.upsert(spark.createDataFrame([(2, "b", 7)], "k int, v string, w int"))
        self._run(spark, t, tmp_path, "ds_sev_out")
        rows = [(r["k"], r["v"], r["w"], r["__seq"]) for r in
                spark.sql("SELECT * FROM ds_sev_out ORDER BY __seq").collect()]
        assert rows == [(1, "a", None, 1), (2, "b", 7, 2)]

    def test_batch_read_rejects_changelog_option(self, spark, catalog):
        self._register(spark)
        t = catalog.create_table("default", "ds_s5", "k int", primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        import pytest as _pytest
        with _pytest.raises(Exception, match="streaming"):
            (spark.read.format("paimon").option("path", t.path)
             .option("changelog", "true").load().collect())


class TestStreamWriter:
    """writeStream.format("paimon"): one atomic snapshot per micro-batch,
    exactly-once via batch-id idempotence, on Spark's native sink protocol."""

    def _register(self, spark):
        from paimon_presto_spark.sources.datasource import PaimonDataSource
        spark.dataSource.register(PaimonDataSource)

    def test_paimon_to_paimon_pipeline(self, spark, catalog, tmp_path):
        """End-to-end: stream a pk table's changelog into an append sink
        table through the native source AND sink, across restarts."""
        self._register(spark)
        src = catalog.create_table("default", "pipe_src", "k int, v string",
                                   primary_keys=["k"])
        dst = catalog.create_table("default", "pipe_dst",
                                   "k int, v string, __seq bigint, __row_kind string")
        ddl = "k int, v string"
        src.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
        ck = str(tmp_path / "pipe_ck")

        def run():
            q = (
                spark.readStream.format("paimon").option("path", src.path)
                .option("changelog", "true").load()
                .writeStream.format("paimon").option("path", dst.path)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        run()
        got = {(r["k"], r["__row_kind"]) for r in dst.to_df().collect()}
        assert got == {(1, "I"), (2, "I")}
        assert dst.snapshot().commit_kind == "APPEND"

        # restart: only the new commit lands, exactly once
        src.delete(spark.createDataFrame([(1, "a")], ddl))
        run()
        rows = [(r["k"], r["__row_kind"], r["__seq"]) for r in
                dst.to_df().orderBy("__seq", "k").collect()]
        assert rows == [(1, "I", 1), (2, "I", 1), (1, "D", 2)]

    def test_stream_write_upserts_pk_sink(self, spark, catalog, tmp_path):
        """A primary-key sink applies each micro-batch as an upsert."""
        self._register(spark)
        src = catalog.create_table("default", "pipe2_src", "k int, v string",
                                   primary_keys=["k"])
        dst = catalog.create_table("default", "pipe2_dst", "k int, v string",
                                   primary_keys=["k"])
        ddl = "k int, v string"
        ck = str(tmp_path / "pipe2_ck")

        def run():
            q = (
                spark.readStream.format("paimon").option("path", src.path)
                .option("changelog", "true").load()
                .select("k", "v")   # project change rows onto the sink schema
                .writeStream.format("paimon").option("path", dst.path)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        src.upsert(spark.createDataFrame([(1, "a")], ddl))
        run()
        src.upsert(spark.createDataFrame([(1, "a2"), (2, "b")], ddl))
        run()
        got = {r["k"]: r["v"] for r in dst.to_df().collect()}
        assert got == {1: "a2", 2: "b"}


def test_time_travel_tag_and_timestamp(registered, spark, catalog):
    """DataSource time travel by tag and by timestamp (A12 surface on the
    connector face: scan_version/scan_timestamp_millis analogs)."""
    import time as _time

    t = catalog.create_table("default", "ds_tt2", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.create_tag("rel")
    mid_ms = int(_time.time() * 1000)
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2,)], "a int"))

    by_tag = (spark.read.format("paimon").option("path", t.path)
              .option("tag", "rel").load())
    assert [r["a"] for r in by_tag.collect()] == [1]

    by_ts = (spark.read.format("paimon").option("path", t.path)
             .option("as-of-timestamp-ms", str(mid_ms)).load())
    assert [r["a"] for r in by_ts.collect()] == [1]

    # tag reads survive snapshot expiry
    t.append(spark.createDataFrame([(3,)], "a int"))
    t.expire_snapshots(keep_last=1)
    assert [r["a"] for r in (
        spark.read.format("paimon").option("path", t.path)
        .option("tag", "rel").load().collect())] == [1]

    # snapshot / tag / as-of-timestamp are mutually exclusive on both entry
    # points: the DataSource options and Table.scan
    with pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("paimon").option("path", t.path)
         .option("tag", "rel").option("snapshot", "1").load().collect())
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.scan(snapshot_id=3, as_of_timestamp_ms=mid_ms)


def test_stream_reader_mixed_rowkind_commit(spark, catalog, tmp_path):
    """A rowkind.field CDC commit mixes I and D rows in ONE snapshot; the
    changelog stream must emit each row with its own kind, in the single
    micro-batch of that commit."""
    from paimon_presto_spark.sources.datasource import PaimonDataSource

    spark.dataSource.register(PaimonDataSource)
    t = catalog.create_table(
        "default", "ds_rk", "k int, v string, rk string",
        primary_keys=["k"], options={"rowkind.field": "rk"},
    )
    ddl = "k int, v string, rk string"
    t.upsert(spark.createDataFrame([(1, "a", "+I"), (2, "b", "+I")], ddl))
    t.upsert(spark.createDataFrame(
        [(1, "a2", "+U"), (2, None, "-D"), (3, "c", "+I")], ddl))
    q = (
        spark.readStream.format("paimon")
        .option("path", t.path).option("changelog", "true")
        .load().writeStream.format("memory").queryName("ds_rk_out")
        .option("checkpointLocation", str(tmp_path / "ck-rk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["__seq"], r["k"], r["__row_kind"])
        for r in spark.table("ds_rk_out").collect()
    )
    assert rows == [
        (1, 1, "I"), (1, 2, "I"),
        (2, 1, "I"), (2, 2, "D"), (2, 3, "I"),
    ]


def test_writer_rowkind_field_mixed_batch(registered, spark, catalog):
    """option('rowkind-field', col): one DataSource write mixes upserts and
    tombstones, kinds taken per row from the column."""
    t = catalog.create_table(
        "default", "ds_rkw", "k int, v string, rk string",
        primary_keys=["k"], options={"bucket": "2"},
    )
    ddl = "k int, v string, rk string"
    t.upsert(spark.createDataFrame([(1, "a", "+I"), (2, "b", "+I")], ddl))
    (
        spark.createDataFrame(
            [(1, "a2", "+U"), (2, None, "-D"), (3, "c", "+I")], ddl)
        .write.format("paimon").option("path", t.path)
        .option("rowkind-field", "rk").mode("append").save()
    )
    assert t.snapshot().snapshot_id == 2  # one atomic commit
    got = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert got == [(1, "a2"), (3, "c")]


def test_writer_rejects_lookup_changelog_tables(registered, spark, catalog):
    """Batch/stream DataSource writes must not leave changelog holes on
    lookup-producer tables — the Table API owns those writes."""
    import pyspark.sql.utils as _u

    t = catalog.create_table(
        "default", "ds_clgw", "k int, v string", primary_keys=["k"],
        options={"changelog-producer": "lookup"},
    )
    with pytest.raises(Exception, match="changelog-producer"):
        (
            spark.createDataFrame([(1, "a")], "k int, v string")
            .write.format("paimon").option("path", t.path)
            .mode("append").save()
        )


def test_stream_cdc_replication_with_deletes(spark, catalog, tmp_path):
    """Full CDC replication through the native source/sink protocol: the
    changelog stream's own __row_kind drives the sink via
    option('rowkind-field', '__row_kind'), so DELETES replicate — the
    piece a constant-rowkind pipe cannot express. UB pre-images are
    filtered (UA already replaces)."""
    from paimon_presto_spark.sources.datasource import PaimonDataSource
    import pyspark.sql.functions as F

    spark.dataSource.register(PaimonDataSource)
    src = catalog.create_table("default", "rep_src", "k int, v string",
                               primary_keys=["k"])
    dst = catalog.create_table("default", "rep_dst", "k int, v string",
                               primary_keys=["k"])
    ddl = "k int, v string"
    ck = str(tmp_path / "rep_ck")

    def run():
        # no UB filter needed: the sink drops pre-images itself
        q = (
            spark.readStream.format("paimon").option("path", src.path)
            .option("changelog", "true").load()
            .select("k", "v", "__row_kind")
            .writeStream.format("paimon").option("path", dst.path)
            .option("rowkind-field", "__row_kind")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    src.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ddl))
    run()
    assert rows_set(dst) == {(1, "a"), (2, "b"), (3, "c")}
    src.delete(spark.createDataFrame([(2, "b")], ddl))
    src.upsert(spark.createDataFrame([(1, "a2"), (4, "d")], ddl))
    run()
    assert rows_set(dst) == rows_set(src) == {(1, "a2"), (3, "c"), (4, "d")}


def rows_set(t):
    return {(r["k"], r["v"]) for r in t.to_df().collect()}


def test_writer_rowkind_field_rejected_on_partial_update(
        registered, spark, catalog):
    """rowkind-field on a partial-update (or aggregation) table must raise
    exactly like Table.write_cdc_batch: the merge read path filters 'D'
    rows before combining, so a tombstone would silently no-op."""
    import pytest

    t = catalog.create_table(
        "default", "ds_rkpu", "k int, v string, rk string",
        primary_keys=["k"],
        options={"rowkind.field": "rk", "merge-engine": "partial-update",
                 "bucket": "1"},
    )
    df = spark.createDataFrame([(1, None, "-D")], "k int, v string, rk string")
    with pytest.raises(Exception, match="merge-engine deduplicate"):
        (
            df.write.format("paimon").option("path", t.path)
            .mode("append").save()
        )


def test_writer_defaults_to_table_rowkind_field(registered, spark, catalog):
    """Writing to a table that declares rowkind.field must honor the kind
    column even when the write does not pass the option — a '-D' marker
    stored as a plain insert would leave the key alive."""
    t = catalog.create_table(
        "default", "ds_rkopt", "k int, v string, rk string",
        primary_keys=["k"], options={"rowkind.field": "rk"},
    )
    ddl = "k int, v string, rk string"
    t.upsert(spark.createDataFrame([(1, "a", "+I"), (2, "b", "+I")], ddl))
    (
        spark.createDataFrame([(1, None, "-D"), (3, "c", "+I")], ddl)
        .write.format("paimon").option("path", t.path)
        .mode("append").save()
    )
    got = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert got == [(2, "b"), (3, "c")]


def test_stream_from_snapshot_startup(registered, spark, catalog, tmp_path):
    """option('from-snapshot', N) starts the stream AT snapshot N —
    Paimon's scan.mode=from-snapshot replay startup."""
    t = catalog.create_table("default", "ds_fs", "k int", primary_keys=["k"])
    for i in range(4):
        t.upsert(spark.createDataFrame([(i,)], "k int"))
    q = (
        spark.readStream.format("paimon").option("path", t.path)
        .option("changelog", "true").option("from-snapshot", "3")
        .load().writeStream.format("memory").queryName("ds_fs_out")
        .option("checkpointLocation", str(tmp_path / "ck-fs"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted((r["__seq"], r["k"]) for r in spark.table("ds_fs_out").collect())
    assert got == [(3, 2), (4, 3)]  # snapshots 3 and 4 only


def test_writer_commit_race_raises_commit_conflict(spark, catalog):
    """The DataSource writer pre-allocates its snapshot id; when a Table
    commit claims that id first, ``commit`` loses the publish race with
    a ``CommitConflict`` and the winner's snapshot is untouched."""
    from paimon_presto_spark.sources.datasource import PaimonWriter
    from paimon_presto_spark.table import CommitConflict

    t = catalog.create_table("default", "ds_race", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    w = PaimonWriter({"path": t.path}, overwrite=False)
    assert w.next_snapshot == 2
    msg = w.write(iter([_batch(a=5)]))
    t.append(spark.createDataFrame([(2,)], "a int"))  # claims snapshot 2
    with pytest.raises(CommitConflict):
        w.commit([msg])
    assert t.snapshot_ids() == [1, 2]
    assert sorted(r["a"] for r in t.to_df().collect()) == [1, 2]


def test_stream_writer_publishes_at_the_stamped_id(spark, catalog):
    """A streaming micro-batch publishes at the snapshot id its tasks
    stamped into ``__seq``. An external commit that claims the id between
    the tasks and ``commit`` makes the batch raise
    ``CommitConflict`` (Spark replays it) instead of publishing rows whose
    ``__seq`` names the other commit; so do tasks that stamped different
    ids."""
    from paimon_presto_spark.sources.datasource import PaimonStreamWriter
    from paimon_presto_spark.table import CommitConflict

    ddl = "k int, v string"
    t = catalog.create_table("default", "ds_stream_race", ddl,
                             primary_keys=["k"], options={"bucket": "1"})
    t.upsert(spark.createDataFrame([(1, "a")], ddl))
    w = PaimonStreamWriter({"path": t.path, "query-name": "q"}, overwrite=False)
    stale = w.write(iter([_batch(k=1, v="b")]))  # stamps __seq 2
    t.upsert(spark.createDataFrame([(1, "c")], ddl))  # claims snapshot 2
    with pytest.raises(CommitConflict):
        w.commit([stale], 0)
    assert t.snapshot_ids() == [1, 2]
    assert _rows(t.to_df()) == [(1, "c")]
    with pytest.raises(CommitConflict):
        w.commit([w.write(iter([_batch(k=1, v="b")])), stale], 0)
    assert t.snapshot_ids() == [1, 2]

    w.commit([w.write(iter([_batch(k=1, v="b")]))], 0)  # the replay lands
    assert t.snapshot_ids() == [1, 2, 3]
    assert _rows(t.to_df()) == [(1, "b")]
    raw = t.scan().to_df(merge=False).filter("v = 'b'")
    assert {r["__seq"] for r in raw.collect()} == {3}


def test_stream_writer_append_table_lands_past_racing_commits(spark, catalog):
    """Rows of a table without primary keys carry no ``__seq`` stamp, so a
    micro-batch re-plans on the latest snapshot: appends landing between
    the tasks and ``commit``, or inside the commit's publish, do not
    fail the batch, and every writer's rows stay."""
    from paimon_presto_spark.sources.datasource import PaimonStreamWriter

    t = catalog.create_table("default", "ds_stream_append", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    w = PaimonStreamWriter({"path": t.path, "query-name": "q"}, overwrite=False)
    msg = w.write(iter([_batch(a=5)]))
    t.append(spark.createDataFrame([(2,)], "a int"))  # between write and commit
    w.commit([msg], 0)
    assert t.snapshot_ids() == [1, 2, 3]

    publish = w.table._publish_snapshot
    raced = []

    def racing_publish(snap):
        if not raced:  # another writer wins this id
            raced.append(t.append(spark.createDataFrame([(3,)], "a int")))
        publish(snap)

    w.table._publish_snapshot = racing_publish
    w.commit([w.write(iter([_batch(a=6)]))], 1)
    assert t.snapshot_ids() == [1, 2, 3, 4, 5]
    assert sorted(r["a"] for r in t.to_df().collect()) == [1, 2, 3, 5, 6]


def test_both_writers_record_the_same_stats(registered, spark, catalog):
    """For the same rows, the Table API and the DataSource writer record
    equal stats for every column both record: both read them with
    ``table._footer_stats``, so a file skips the same whichever path
    wrote it (a decimal's stats are floats on both paths)."""
    import datetime
    from decimal import Decimal

    ddl = ("k int, big decimal(30,4), small decimal(9,2), s string, "
           "x double, d date, b boolean")
    data = [
        (1, Decimal("12345.6789"), Decimal("1.10"), "a", 1.5,
         datetime.date(2020, 1, 2), True),
        (2, Decimal("99999.0001"), None, "b", None,
         datetime.date(2021, 3, 4), False),
    ]
    df = spark.createDataFrame(data, ddl).coalesce(1)
    by_table = catalog.create_table("default", "stats_tbl", ddl)
    by_ds = catalog.create_table("default", "stats_ds", ddl)
    by_table.append(df)
    df.write.format("paimon").option("path", by_ds.path).mode("append").save()
    (ea,), (eb,) = by_table.manifest_entries(), by_ds.manifest_entries()
    sa, sb = ea["stats"], eb["stats"]
    shared = sa.keys() & sb.keys()
    assert {"k", "big", "s", "x", "d", "b"} <= shared
    for c in shared:
        assert sa[c]["null_count"] == sb[c]["null_count"], c
        if sa[c]["min"] is not None and sb[c]["min"] is not None:
            assert (sa[c]["min"], sa[c]["max"]) == (sb[c]["min"], sb[c]["max"]), c
