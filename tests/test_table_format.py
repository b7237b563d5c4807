"""Table-format E2E tests mirroring the reference's golden-output ITCases
(``TestPrestoITCase.java``, fixtures in FIXTURES.md): merge-on-read delete,
time travel, system tables, partition pruning (incl. expression-over-
partition-value), file skipping, schema evolution, DDL round trips.
"""

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from paimon_presto_spark.plans.predicate import P


def rows(df, *cols):
    out = df
    if cols:
        out = df.select(*cols)
    return sorted(tuple(r) for r in out.collect())


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs calling it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# --- FIXTURES.md t1: pk table with merge-on-read delete --------------------


@pytest.fixture()
def t1(spark, catalog):
    t = catalog.create_table(
        "default",
        "t1",
        "a int, b bigint, aCa string, d string",
        primary_keys=["a"],
        options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame(
        [(1, 2, "1", "1"), (3, 4, "2", "2"), (5, 6, "3", "3")],
        "a int, b bigint, aCa string, d string",
    ))
    t.delete(spark.createDataFrame([(3, 4, "2", "2")], "a int, b bigint, aCa string, d string"))
    return t


def test_merge_on_read_delete(t1):
    # TestPrestoITCase.java:392-393 — DELETE row vanishes on read
    assert rows(t1.to_df()) == [(1, 2, "1", "1"), (5, 6, "3", "3")]


def test_projection_and_sum(t1):
    # :394-395
    assert rows(t1.to_df(), "aCa") == [("1",), ("3",)]
    assert t1.to_df().agg(F.sum("b")).collect()[0][0] == 8


def test_case_insensitive_write(spark, catalog, t1):
    # FieldNameUtils.java:30-35 — mixed-case aCa resolves case-insensitively
    t1.upsert(spark.createDataFrame([(7, 8, "4", "4")], "A int, B bigint, ACA string, D string"))
    assert (1, "4") in {(1, r[0]) for r in t1.to_df().filter("a = 7").select("aCa").collect()}


def test_snapshots_system_table(t1):
    # TestPrestoITCase.java:376-381 — $snapshots columns
    sdf = t1.snapshots_df()
    assert {"snapshot_id", "schema_id", "commit_user", "commit_identifier", "commit_kind"} <= set(
        sdf.columns
    )
    kinds = [r["commit_kind"] for r in sdf.orderBy("snapshot_id").collect()]
    assert kinds == ["UPSERT", "DELETE"]


# --- FIXTURES.md t2: two commits, time travel ------------------------------


@pytest.fixture()
def t2(spark, catalog):
    t = catalog.create_table(
        "default", "t2", "a int, b bigint, aCa string, d string",
        primary_keys=["a"], options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame([(1, 2, "1", "1"), (3, 4, "2", "2")],
                                   "a int, b bigint, aCa string, d string"))
    t.upsert(spark.createDataFrame([(5, 6, "3", "3"), (7, 8, "4", "4")],
                                   "a int, b bigint, aCa string, d string"))
    return t


def test_filter_current(t2):
    # TestPrestoITCase.java:399-402 — SELECT a, aCa WHERE a < 7
    assert rows(t2.to_df(predicate=P.lt("a", 7)), "a", "aCa") == [(1, "1"), (3, "2"), (5, "3")]


def test_time_travel_snapshot(t2):
    # :405-440 — scan_version=1 sees only commit 1
    assert rows(t2.to_df(snapshot_id=1), "a", "aCa") == [(1, "1"), (3, "2")]
    assert len(t2.to_df(snapshot_id=2).collect()) == 4


def test_time_travel_timestamp(t2):
    snap1 = t2.snapshot(1)
    got = t2.to_df(as_of_timestamp_ms=snap1.timestamp_ms)
    assert len(got.collect()) == 2


def test_limit(t2):
    # :384-388
    assert len(t2.to_df().limit(2).collect()) == 2


# --- FIXTURES.md t3: partitioned append table ------------------------------


def test_partitioned_append_group_by(spark, catalog):
    t = catalog.create_table(
        "default", "t3", "pt string, a int, b bigint, c bigint, d int",
        partition_keys=["pt"],
    )
    t.append(spark.createDataFrame(
        [("1", 1, 1, 1, 1), ("1", 1, 2, 2, 2), ("2", 3, 3, 3, 3)],
        "pt string, a int, b bigint, c bigint, d int",
    ))
    got = rows(
        t.to_df().groupBy("pt", "a").agg(F.sum("b"), F.sum("d")).orderBy("pt", "a")
    )
    assert got == [("1", 1, 3, 3), ("2", 3, 3, 3)]


# --- FIXTURES.md t5: multi-partition-key pruning ---------------------------


@pytest.fixture()
def t5(spark, catalog):
    t = catalog.create_table(
        "default", "t5", "i1 string, i2 int, i3 int",
        partition_keys=["i1", "i2"], options={"bucket": "1"},
    )
    t.append(spark.createDataFrame(
        [("20241103", 1, 1), ("20241103", 2, 2), ("20241104", 3, 2)],
        "i1 string, i2 int, i3 int",
    ))
    return t


def test_partition_prune_direct(t5):
    scan = t5.scan(predicate=P.eq("i1", "20241103"))
    assert rows(scan.to_df(), "i3") == [(1,), (2,)]
    assert scan.last_plan["after_partition_prune"] == 2
    assert scan.last_plan["total_files"] == 3


def test_partition_prune_expression(t5):
    # TestPrestoITCase.java:643-692 — upper(i1)='20241103' AND i2=1
    scan = t5.scan(partition_where="upper(i1) = '20241103' AND i2 = 1")
    assert rows(scan.to_df()) == [("20241103", 1, 1)]
    assert scan.last_plan["after_partition_prune"] == 1


def test_partition_prune_to_empty(t5):
    scan = t5.scan(partition_where="upper(i1) = '20991231'")
    assert rows(scan.to_df()) == []
    assert scan.last_plan["after_partition_prune"] == 0


def test_partition_prune_mixed_conjuncts(t5):
    # a conjunct referencing a non-partition column (i3) cannot prune and is
    # skipped (recoverable semantics, PrestoComputePushdown.java:499-509);
    # the partition-value conjunct still prunes; both apply as residual
    scan = t5.scan(partition_where="upper(i1) = '20241103' AND i3 = 2")
    assert rows(scan.to_df()) == [("20241103", 2, 2)]
    assert scan.last_plan["after_partition_prune"] == 2  # pruned by i1 only


def test_partition_where_conjuncts_run_one_job(spark, t5):
    # every conjunct that resolves on partition values is evaluated in
    # one collect; the non-partition conjunct (i3) is skipped unevaluated
    scan = t5.scan(
        partition_where="upper(i1) = '20241103' AND i3 = 2 AND i2 >= 2")
    _, jobs = spark_jobs(spark, scan.plan_files)
    assert jobs == 1
    assert scan.last_plan["after_partition_prune"] == 1
    assert rows(scan.to_df()) == [("20241103", 2, 2)]


def test_partition_where_runtime_error_conjunct_is_skipped(spark, catalog):
    # a conjunct that fails at run time on one partition value (an ANSI
    # cast of 'a') prunes nothing, like one that fails analysis; the
    # other conjunct still prunes, and the residual never sees pt = 'a'
    t = catalog.create_table(
        "default", "pw_rt", "pt string, v int", partition_keys=["pt"],
        options={"bucket": "1"},
    )
    t.append(spark.createDataFrame(
        [("a", 1), ("1", 2), ("2", 3)], "pt string, v int"))
    scan = t.scan(partition_where="pt <> 'a' AND CAST(pt AS INT) = 1")
    assert rows(scan.to_df()) == [("1", 2)]
    assert scan.last_plan["after_partition_prune"] == 2


# --- t6: partition key also pk member (FIXTURES.md) ------------------------


def test_pk_with_partition_member(spark, catalog):
    t = catalog.create_table(
        "default", "t6", "i1 int, i2 string, i3 int",
        partition_keys=["i2"], primary_keys=["i2", "i1"], options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame(
        [(1, "20241103", 1), (2, "20241103", 2), (3, "20241104", 2)],
        "i1 int, i2 string, i3 int",
    ))
    got = rows(t.to_df(partition_where="upper(i2) = '20241103'"))
    assert got == [(1, "20241103", 1), (2, "20241103", 2)]


# --- file skipping via manifest stats --------------------------------------


def test_file_skipping_stats(spark, catalog):
    t = catalog.create_table("default", "skip", "k bigint, v string")
    # three separate commits → three files with disjoint k ranges
    for lo in (0, 100, 200):
        t.append(spark.range(lo, lo + 50).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
        ).coalesce(1))
    scan = t.scan(predicate=P.between("k", 120, 130))
    got = scan.to_df().count()
    assert got == 11
    assert scan.last_plan["total_files"] == 3
    assert scan.last_plan["after_stats_skip"] == 1  # only the middle file


def test_file_skipping_in_and_null(spark, catalog):
    t = catalog.create_table("default", "skip2", "k bigint, v string")
    t.append(spark.range(0, 10).select(F.col("id").alias("k"), F.lit("x").alias("v")).coalesce(1))
    t.append(spark.range(100, 110).select(F.col("id").alias("k"), F.lit(None).cast("string").alias("v")).coalesce(1))
    s1 = t.scan(predicate=P.in_("k", [5, 6]))
    assert s1.to_df().count() == 2
    assert s1.last_plan["after_stats_skip"] == 1
    s2 = t.scan(predicate=P.is_null("v"))
    assert s2.to_df().count() == 10
    assert s2.last_plan["after_stats_skip"] == 1
    s3 = t.scan(predicate=P.not_null("v"))
    assert s3.to_df().count() == 10


# --- upsert semantics ------------------------------------------------------


def test_upsert_overwrites_by_key(spark, catalog):
    t = catalog.create_table("default", "u1", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"))
    assert rows(t.to_df()) == [(1, "a"), (2, "B"), (3, "c")]


def test_compact_preserves_state(spark, catalog):
    t = catalog.create_table("default", "u2", "k int, v string", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.delete(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.upsert(spark.createDataFrame([(2, "B2")], "k int, v string"))
    before = rows(t.to_df())
    t.compact()
    assert rows(t.to_df()) == before == [(2, "B2")]
    assert t.snapshot().commit_kind == "COMPACT"


def test_overwrite(spark, catalog):
    t = catalog.create_table("default", "u3", "k int, v string")
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.overwrite(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert rows(t.to_df()) == [(9, "z")]


# --- schema evolution (A18, TestPrestoSqlTCase.java:319-387) ----------------


def test_schema_evolution_add_rename_drop(spark, catalog):
    c = catalog
    t = c.create_table("default", "ev", "order_key bigint, order_status string, total double")
    t.append(spark.createDataFrame([(1, "OPEN", 10.0)], "order_key bigint, order_status string, total double"))

    c.add_column("default", "ev", "zip", "string")
    t.append(spark.createDataFrame(
        [(2, "DONE", 20.0, "94110")],
        "order_key bigint, order_status string, total double, zip string",
    ))
    got = rows(t.to_df())
    assert (1, "OPEN", 10.0, None) in got and (2, "DONE", 20.0, "94110") in got

    c.rename_column("default", "ev", "order_status", "g")
    assert rows(t.to_df(), "g") == [("DONE",), ("OPEN",)]  # old files readable via field id

    c.drop_column("default", "ev", "total")
    assert sorted(t.to_df().columns) == ["g", "order_key", "zip"]
    # time travel renders with the snapshot's own schema
    assert t.to_df(snapshot_id=1).columns == ["order_key", "order_status", "total"]


class TestMergeOptionsFollowSchemaEvolution:
    """The merge options name columns: a rename rewrites every option
    naming the column, a drop removes its fields.<c>.* options and is
    refused for a column ``sequence.field`` or a sequence group names."""

    def test_rename_aggregated_column_keeps_its_function(self, spark, catalog):
        t = catalog.create_table(
            "default", "mr1", "k int, v bigint", primary_keys=["k"],
            options={"merge-engine": "aggregation",
                     "fields.v.aggregate-function": "sum"})
        t.upsert(spark.createDataFrame([(1, 10)], "k int, v bigint"))
        t.upsert(spark.createDataFrame([(1, 5)], "k int, v bigint"))
        catalog.rename_column("default", "mr1", "v", "w")
        assert rows(t.to_df()) == [(1, 15)]
        opts = t.schema().options
        assert opts["fields.w.aggregate-function"] == "sum"
        assert "fields.v.aggregate-function" not in opts

    def test_rename_sequence_field_column(self, spark, catalog):
        ddl = "k int, v string, ver bigint"
        t = catalog.create_table(
            "default", "mr2", ddl, primary_keys=["k"],
            options={"sequence.field": "ver"})
        t.upsert(spark.createDataFrame([(1, "new", 10)], ddl))
        t.upsert(spark.createDataFrame([(1, "stale", 5)], ddl))
        catalog.rename_column("default", "mr2", "ver", "version")
        assert t.schema().options["sequence.field"] == "version"
        assert rows(t.to_df()) == [(1, "new", 10)]

    def test_rename_sequence_group_columns(self, spark, catalog):
        ddl = "k int, g bigint, a string, b string"
        t = catalog.create_table(
            "default", "mr3", ddl, primary_keys=["k"],
            options={"merge-engine": "partial-update",
                     "fields.g.sequence-group": "a,b"})
        t.upsert(spark.createDataFrame([(1, 2, "new", "x")], ddl))
        t.upsert(spark.createDataFrame([(1, 1, "old", "y")], ddl))
        catalog.rename_column("default", "mr3", "a", "a2")
        catalog.rename_column("default", "mr3", "g", "g2")
        opts = t.schema().options
        assert opts["fields.g2.sequence-group"] == "a2,b"
        assert "fields.g.sequence-group" not in opts
        assert rows(t.to_df()) == [(1, 2, "new", "x")]

    def test_drop_column_removes_its_merge_options(self, spark, catalog):
        t = catalog.create_table(
            "default", "mr4", "k int, v bigint, w bigint", primary_keys=["k"],
            options={"merge-engine": "aggregation",
                     "fields.v.aggregate-function": "sum",
                     "fields.w.aggregate-function": "sum"})
        t.upsert(spark.createDataFrame([(1, 1, 1)], "k int, v bigint, w bigint"))
        catalog.drop_column("default", "mr4", "w")
        assert "fields.w.aggregate-function" not in t.schema().options
        # a new column of the same name starts with the default function
        catalog.add_column("default", "mr4", "w", "bigint")
        ddl = "k int, v bigint, w bigint"
        t.upsert(spark.createDataFrame([(1, 2, 5)], ddl))
        t.upsert(spark.createDataFrame([(1, 3, 7)], ddl))
        assert rows(t.to_df()) == [(1, 6, 7)]

    @pytest.mark.parametrize("column", ["ver", "g", "a"])
    def test_drop_rejects_columns_the_merge_names(self, catalog, column):
        catalog.create_table(
            "default", "mr5", "k int, ver bigint, g bigint, a string",
            primary_keys=["k"],
            options={"merge-engine": "partial-update",
                     "fields.g.sequence-group": "a"})
        catalog.create_table(
            "default", "mr6", "k int, ver bigint, g bigint, a string",
            primary_keys=["k"], options={"sequence.field": "ver"})
        name = "mr6" if column == "ver" else "mr5"
        with pytest.raises(ValueError, match="merge options"):
            catalog.drop_column("default", name, column)
        assert column in catalog.get_table("default", name).schema().field_names()


# --- DDL (A15-A17) ---------------------------------------------------------


def test_catalog_ddl_roundtrip(spark, catalog):
    c = catalog
    c.create_database("db2")
    assert "db2" in c.list_databases()
    t = c.create_table("db2", "orders", "k bigint, v string")
    assert c.list_tables("db2") == ["orders"]
    c.rename_table("db2", "orders", "orders2")
    assert c.list_tables("db2") == ["orders2"]
    c.drop_table("db2", "orders2")
    assert c.list_tables("db2") == []
    c.drop_database("db2")
    assert "db2" not in c.list_databases()
    with pytest.raises(ValueError):
        c.drop_database("db2")


def test_system_table_read_via_catalog(spark, catalog, t1):
    sdf = catalog.read_table("default", "t1$snapshots")
    assert sdf.count() == 2
    fdf = catalog.read_table("default", "t1$files")
    assert fdf.count() >= 1
    assert catalog.read_table("default", "t1$schemas").count() == 1
    assert catalog.read_table("default", "t1$partitions").count() >= 1


def test_create_table_validation(catalog):
    with pytest.raises(ValueError):
        catalog.create_table("default", "bad", "a int", primary_keys=["nope"])
    with pytest.raises(ValueError):
        catalog.create_table("nodb", "t", "a int")


def test_empty_table_scan(spark, catalog):
    t = catalog.create_table("default", "empty", "a int, b string")
    assert t.to_df().count() == 0
    assert t.to_df().columns == ["a", "b"]


class TestMergeEngines:
    """merge-engine option surface (A13 extension;
    PrestoSqlTableOptionUtils.java:96-128 exposes MergeEngineType)."""

    def test_partial_update(self, spark, catalog):
        t = catalog.create_table(
            "default", "pu", "k int, a string, b int",
            primary_keys=["k"], options={"merge-engine": "partial-update"},
        )
        t.upsert(spark.createDataFrame([(1, "x", None), (2, "y", 20)],
                                       "k int, a string, b int"))
        t.upsert(spark.createDataFrame([(1, None, 10), (2, "z", None)],
                                       "k int, a string, b int"))
        got = {r["k"]: (r["a"], r["b"]) for r in t.to_df().collect()}
        # each column keeps its latest NON-NULL value
        assert got == {1: ("x", 10), 2: ("z", 20)}

    def test_partial_update_sequence_groups(self, spark, catalog):
        """fields.<s>.sequence-group=cols: the group's columns follow the
        GROUP's sequence column, so an out-of-order (stale) arrival cannot
        regress a fresher value; ungrouped columns keep commit order."""
        t = catalog.create_table(
            "default", "pusg",
            "k int, g1 int, a string, b string, g2 int, c string, d string",
            primary_keys=["k"],
            options={
                "merge-engine": "partial-update",
                "fields.g1.sequence-group": "a,b",
                "fields.g2.sequence-group": "c",
            },
        )
        ddl = "k int, g1 int, a string, b string, g2 int, c string, d string"
        t.upsert(spark.createDataFrame(
            [(1, 5, "a5", "b5", 10, "c10", "d1")], ddl))
        # stale g1 (3 < 5) must NOT regress a/b; fresher g2 advances c;
        # ungrouped d follows commit order
        t.upsert(spark.createDataFrame(
            [(1, 3, "a3", "b3", 20, "c20", "d2")], ddl))
        # null sequence never updates its group, but other groups apply
        t.upsert(spark.createDataFrame(
            [(1, None, "aX", "bX", 30, None, None)], ddl))
        got = t.to_df().collect()[0]
        assert (got["g1"], got["a"], got["b"]) == (5, "a5", "b5")
        assert (got["g2"], got["c"]) == (30, "c20")  # null c kept prior value
        assert got["d"] == "d2"

    def test_partial_update_sequence_groups_datasource_parity(
        self, spark, catalog
    ):
        t = catalog.create_table(
            "default", "pusgds", "k int, g int, a string, b string",
            primary_keys=["k"],
            options={
                "merge-engine": "partial-update",
                "fields.g.sequence-group": "a,b",
                "bucket": "2",
            },
        )
        ddl = "k int, g int, a string, b string"
        t.upsert(spark.createDataFrame(
            [(1, 2, "new", None), (2, 1, "x", "y")], ddl))
        t.upsert(spark.createDataFrame(
            [(1, 1, "old", "stale"), (2, 2, None, "y2")], ddl))
        spark.dataSource.register(__import__(
            "paimon_presto_spark.sources.datasource",
            fromlist=["PaimonDataSource"],
        ).PaimonDataSource)
        via_ds = spark.read.format("paimon").option("path", t.path).load()
        a = sorted(tuple(r) for r in t.to_df().collect())
        b = sorted(tuple(r) for r in via_ds.collect())
        assert a == b
        assert a == [(1, 2, "new", "stale"), (2, 2, "x", "y2")]

    def test_partial_update_rejects_delete(self, spark, catalog):
        t = catalog.create_table(
            "default", "pu2", "k int, v int",
            primary_keys=["k"], options={"merge-engine": "partial-update"},
        )
        t.upsert(spark.createDataFrame([(1, 1)], "k int, v int"))
        with pytest.raises(ValueError, match="does not accept deletes"):
            t.delete(spark.createDataFrame([(1, 1)], "k int, v int"))

    def test_partial_update_ignore_delete(self, spark, catalog):
        t = catalog.create_table(
            "default", "pu3", "k int, v int", primary_keys=["k"],
            options={"merge-engine": "partial-update", "ignore-delete": "true"},
        )
        t.upsert(spark.createDataFrame([(1, 5)], "k int, v int"))
        t.delete(spark.createDataFrame([(1, 5)], "k int, v int"))
        assert [(r["k"], r["v"]) for r in t.to_df().collect()] == [(1, 5)]

    def test_aggregation_engine(self, spark, catalog):
        t = catalog.create_table(
            "default", "ag", "k int, total int, peak int, note string",
            primary_keys=["k"],
            options={
                "merge-engine": "aggregation",
                "fields.total.aggregate-function": "sum",
                "fields.peak.aggregate-function": "max",
                # note: defaults to last_non_null
            },
        )
        t.upsert(spark.createDataFrame(
            [(1, 10, 5, "first"), (2, 1, 1, None)],
            "k int, total int, peak int, note string"))
        t.upsert(spark.createDataFrame(
            [(1, 7, 3, None), (2, 2, 9, "hello")],
            "k int, total int, peak int, note string"))
        got = {r["k"]: (r["total"], r["peak"], r["note"]) for r in t.to_df().collect()}
        assert got == {1: (17, 5, "first"), 2: (3, 9, "hello")}

    def test_aggregation_engine_full_function_set(self, spark, catalog):
        """The remaining Paimon aggregate-functions: first/last value
        variants, bool_and/bool_or, product, commit-ordered listagg."""
        t = catalog.create_table(
            "default", "agf",
            "k int, fv int, fnn int, lv int, ba boolean, bo boolean, "
            "pr double, la string",
            primary_keys=["k"],
            options={
                "merge-engine": "aggregation",
                "fields.fv.aggregate-function": "first_value",
                "fields.fnn.aggregate-function": "first_non_null",
                "fields.lv.aggregate-function": "last_value",
                "fields.ba.aggregate-function": "bool_and",
                "fields.bo.aggregate-function": "bool_or",
                "fields.pr.aggregate-function": "product",
                "fields.la.aggregate-function": "listagg",
            },
        )
        ddl = ("k int, fv int, fnn int, lv int, ba boolean, bo boolean, "
               "pr double, la string")
        t.upsert(spark.createDataFrame([(1, None, None, 10, True, False, 2.0, "a")], ddl))
        t.upsert(spark.createDataFrame([(1, 7, 8, None, True, False, 3.0, "b")], ddl))
        t.upsert(spark.createDataFrame([(1, 9, 9, 30, False, True, 4.0, None)], ddl))
        r = t.to_df().collect()[0]
        assert r["fv"] is None      # first value, nulls included
        assert r["fnn"] == 8        # first NON-null
        assert r["lv"] == 30        # last value
        assert r["ba"] is False and r["bo"] is True
        assert r["pr"] == 24.0
        assert r["la"] == "a,b"     # commit order, nulls skipped

    def test_aggregation_collect_and_merge_map(self, spark, catalog):
        """Paimon's container aggregates: collect concatenates arrays in
        commit order (fields.<c>.distinct keeps first occurrences);
        merge_map overwrites entries key-wise, later commits winning."""
        t = catalog.create_table(
            "default", "agc",
            "k int, tags array<string>, uniq array<int>, attrs map<string,int>",
            primary_keys=["k"],
            options={
                "merge-engine": "aggregation",
                "fields.tags.aggregate-function": "collect",
                "fields.uniq.aggregate-function": "collect",
                "fields.uniq.distinct": "true",
                "fields.attrs.aggregate-function": "merge_map",
            },
        )
        ddl = "k int, tags array<string>, uniq array<int>, attrs map<string,int>"
        t.upsert(spark.createDataFrame(
            [(1, ["a", "b"], [1, 2], {"x": 1, "y": 2})], ddl))
        t.upsert(spark.createDataFrame(
            [(1, ["b", "c"], [2, 3], {"y": 20, "z": 30}),
             (2, None, None, None)], ddl))
        got = {r["k"]: r for r in t.to_df().collect()}
        assert got[1]["tags"] == ["a", "b", "b", "c"]
        assert got[1]["uniq"] == [1, 2, 3]
        assert dict(got[1]["attrs"]) == {"x": 1, "y": 20, "z": 30}
        # a key whose values are all NULL keeps NULL, as in Paimon
        assert got[2]["tags"] is None and got[2]["attrs"] is None

        # shuffle-free DataSource read agrees
        spark.dataSource.register(__import__(
            "paimon_presto_spark.sources.datasource",
            fromlist=["PaimonDataSource"],
        ).PaimonDataSource)
        ds = {
            r["k"]: r for r in
            spark.read.format("paimon").option("path", t.path).load().collect()
        }
        assert ds[1]["tags"] == ["a", "b", "b", "c"]
        assert ds[1]["uniq"] == [1, 2, 3]
        assert dict(ds[1]["attrs"]) == {"x": 1, "y": 20, "z": 30}

    def test_aggregation_survives_compact(self, spark, catalog):
        t = catalog.create_table(
            "default", "ag2", "k int, total int", primary_keys=["k"],
            options={"merge-engine": "aggregation",
                     "fields.total.aggregate-function": "sum"},
        )
        t.upsert(spark.createDataFrame([(1, 10)], "k int, total int"))
        t.compact()
        t.upsert(spark.createDataFrame([(1, 5)], "k int, total int"))
        assert t.to_df().collect()[0]["total"] == 15

    def test_first_row_engine(self, spark, catalog):
        t = catalog.create_table(
            "default", "fr", "k int, v string", primary_keys=["k"],
            options={"merge-engine": "first-row"},
        )
        t.upsert(spark.createDataFrame([(1, "first")], "k int, v string"))
        t.upsert(spark.createDataFrame([(1, "second"), (2, "only")], "k int, v string"))
        got = {r["k"]: r["v"] for r in t.to_df().collect()}
        assert got == {1: "first", 2: "only"}


def test_sql_surface_over_catalog_views(spark, catalog):
    """SHOW/DESCRIBE/EXPLAIN + spark.sql over registered catalog tables —
    SURVEY §2.2 scans/sources (information_schema, SHOW, DESCRIBE, EXPLAIN
    are engine-native once tables resolve)."""
    from paimon_presto_spark.catalog import register_catalog_views

    t = catalog.create_table("default", "sqlv", "a int, b string")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    register_catalog_views(catalog, "default")

    shown = {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}
    assert "sqlv" in shown
    desc = {r["col_name"]: r["data_type"] for r in spark.sql("DESCRIBE sqlv").collect()}
    assert desc["a"] == "int" and desc["b"] == "string"
    plan = spark.sql("EXPLAIN SELECT a FROM sqlv WHERE a > 1").collect()[0][0]
    assert "Scan" in plan or "Relation" in plan
    assert spark.sql("SELECT SUM(a) s FROM sqlv").collect()[0]["s"] == 3
    # snapshot isolation: the view pins the registration-time snapshot
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"))
    assert spark.sql("SELECT COUNT(*) c FROM sqlv").collect()[0]["c"] == 2
    register_catalog_views(catalog, "default")
    assert spark.sql("SELECT COUNT(*) c FROM sqlv").collect()[0]["c"] == 3


def test_expire_snapshots(spark, catalog):
    t = catalog.create_table("default", "exp", "a int")
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "a int"))
    assert t.snapshot_ids() == [1, 2, 3, 4, 5]
    expired = t.expire_snapshots(keep_last=2)
    assert expired == [1, 2, 3]
    assert t.snapshot_ids() == [4, 5]
    # current read unaffected; kept-snapshot time travel still works
    assert sorted(r["a"] for r in t.to_df().collect()) == [0, 1, 2, 3, 4]
    assert t.scan(snapshot_id=4).to_df().count() == 4
    with pytest.raises(ValueError, match="does not exist"):
        t.scan(snapshot_id=2).to_df()


def test_expire_snapshots_reclaims_compacted_files(spark, catalog):
    t = catalog.create_table("default", "exp2", "k int, v int", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"))
    t.upsert(spark.createDataFrame([(1, 10)], "k int, v int"))
    t.compact()

    def live_files():
        import os
        n = 0
        for root, _d, files in os.walk(os.path.join(t.path, "data")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before = live_files()
    t.expire_snapshots(keep_last=1)
    after = live_files()
    assert after < before  # pre-compaction level files reclaimed
    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == {1: 10, 2: 2}


def test_tags_pin_snapshots(spark, catalog):
    """Tags: named immutable snapshot references; reads by tag survive
    snapshot expiry (Paimon TagManager semantics, resolved through the same
    catalog `$` suffix path as $snapshots, PrestoMetadata.java:141)."""
    t = catalog.create_table("default", "tagt", "a int")
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], "a int"))
    t.create_tag("v1", snapshot_id=2)
    t.create_tag("latest")  # defaults to newest snapshot
    assert t.list_tags() == ["latest", "v1"]
    assert rows(t.scan(tag="v1").to_df()) == [(0,), (1,)]
    # $tags system table
    tdf = catalog.read_table("default", "tagt$tags")
    got = {r["tag_name"]: r["snapshot_id"] for r in tdf.collect()}
    assert got == {"v1": 2, "latest": 4}
    # duplicate / missing tags error
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("v1")
    with pytest.raises(ValueError, match="does not exist"):
        t.scan(tag="nope").to_df()
    # expiry keeps tag-referenced data readable even though the snapshot is gone
    expired = t.expire_snapshots(keep_last=1)
    assert 2 in expired
    assert rows(t.scan(tag="v1").to_df()) == [(0,), (1,)]
    with pytest.raises(ValueError, match="does not exist"):
        t.scan(snapshot_id=2).to_df()
    # delete_tag releases the pin
    t.delete_tag("v1")
    with pytest.raises(ValueError, match="does not exist"):
        t.scan(tag="v1").to_df()


def test_options_and_manifests_system_tables(spark, catalog):
    t = catalog.create_table(
        "default", "sysx", "k int, v int", primary_keys=["k"],
        options={"bucket": "2", "merge-engine": "deduplicate"},
    )
    t.upsert(spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"))
    t.upsert(spark.createDataFrame([(2, 20)], "k int, v int"))
    opts = {r["key"]: r["value"] for r in catalog.read_table("default", "sysx$options").collect()}
    assert opts["bucket"] == "2" and opts["merge-engine"] == "deduplicate"
    mdf = catalog.read_table("default", "sysx$manifests")
    mrows = {r["snapshot_id"]: r for r in mdf.collect()}
    assert set(mrows) == {1, 2}
    assert mrows[2]["num_files"] > mrows[1]["num_files"]  # manifests are cumulative


def test_audit_log_system_table(spark, catalog):
    """$audit_log: the unmerged changelog with a rowkind column — upserted
    then deleted keys show all change rows, while the base table shows the
    merged state (reference merge-on-read evidence TestPrestoITCase.java:
    94-96,392-393 seen from the other side)."""
    t = catalog.create_table("default", "audt", "k int, v int", primary_keys=["k"])
    t.upsert(spark.createDataFrame([(1, 1), (2, 2)], "k int, v int"))
    t.delete(spark.createDataFrame([(2, 2)], "k int, v int"))
    adf = catalog.read_table("default", "audt$audit_log")
    assert adf.columns[0] == "rowkind"
    got = sorted((r["rowkind"], r["k"], r["v"]) for r in adf.collect())
    assert got == [("+I", 1, 1), ("+I", 2, 2), ("-D", 2, 2)]
    assert rows(t.to_df()) == [(1, 1)]
    # append-only tables: every row is an insert
    ta = catalog.create_table("default", "audta", "a int")
    ta.append(spark.createDataFrame([(7,)], "a int"))
    arow = catalog.read_table("default", "audta$audit_log").collect()
    assert [(r["rowkind"], r["a"]) for r in arow] == [("+I", 7)]


def test_sort_compact_improves_file_skipping(spark, catalog):
    """compact(sort_by): range-clustered rewrite makes min/max file
    skipping surgical on the sorted column."""
    import pyspark.sql.functions as F
    from paimon_presto_spark.plans.predicate import P

    t = catalog.create_table("default", "sc", "a int, v string")
    # interleaved appends: every file spans nearly the full value range
    rows = [(i, f"v{i}") for i in range(0, 1000, 7)] + [(i, f"v{i}") for i in range(3, 1000, 11)]
    df = spark.createDataFrame(rows, "a int, v string").repartition(8)
    t.append(df)

    scan_before = t.scan(predicate=P.between("a", 100, 120))
    scan_before.plan_files()
    skipped_before = (
        scan_before.last_plan["after_partition_prune"]
        - scan_before.last_plan["after_stats_skip"]
    )

    t.compact(sort_by=["a"])
    scan_after = t.scan(predicate=P.between("a", 100, 120))
    kept = len(scan_after.plan_files())
    total = scan_after.last_plan["after_partition_prune"]
    # after clustering, the narrow range hits a small fraction of files
    assert total > 2 and kept <= max(1, total // 2), (kept, total)
    # results identical
    got = sorted(r["a"] for r in scan_after.to_df().collect())
    assert got == sorted(a for a, _ in rows if 100 <= a <= 120)


@pytest.mark.parametrize("bucket", ["2", "-1"])
def test_sort_compact_writes_one_run_per_group(spark, catalog, bucket):
    """compact(sort_by) range-partitions on (partition, bucket, sort key):
    each (partition, bucket) group is one sorted run — its files' sort-key
    ranges are pairwise disjoint — and the rewrite writes at most shuffle
    partitions + groups - 1 files. A dynamic-bucket table assigns its
    buckets before the range partition, so its runs are sorted too."""
    ddl = "k int, p string, a int"
    t = catalog.create_table(
        "default", "sc_run", ddl, primary_keys=["k", "p"], partition_keys=["p"],
        options={"bucket": bucket, "dynamic-bucket.target-row-num": "500"},
    )
    data = [(i, "xyz"[i % 3], (i * 7919) % 1000) for i in range(1800)]
    for lo in (0, 600, 1200):  # three commits, each spanning every group
        t.upsert(spark.createDataFrame(data[lo:lo + 600], ddl).repartition(4))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t.compact(sort_by=["a"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    groups: dict = {}
    for e in t.manifest_entries():
        groups.setdefault((e["partition"]["p"], e["bucket"]), []).append(
            (e["stats"]["a"]["min"], e["stats"]["a"]["max"]))
    # 3 partitions x 2 buckets (a dynamic table opens more buckets)
    assert len(groups) >= 6, sorted(groups)
    n_files = sum(len(r) for r in groups.values())
    assert n_files <= 8 + len(groups) - 1, n_files
    for ranges in groups.values():
        ranges.sort()
        assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges
    assert rows(t.to_df(), "k", "p", "a") == sorted(data)


def test_reserved_word_columns_read_merge_and_sort_compact(spark, catalog):
    """The read plan quotes every identifier it renders into SQL: keys,
    values, partition columns and sort keys named by reserved words."""
    ddl = "`order` int, `select` bigint, `group` string"
    t = catalog.create_table(
        "default", "kw", ddl, primary_keys=["order", "group"],
        partition_keys=["group"], options={"merge-engine": "first-row"},
    )
    t.upsert(spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], ddl))
    t.upsert(spark.createDataFrame([(1, 99, "a"), (3, 30, "a")], ddl))
    catalog.add_column("default", "kw", "from", "string")
    want = [(1, 10, "a", None), (2, 20, "b", None), (3, 30, "a", None)]
    assert rows(t.to_df()) == want
    t.compact(sort_by=["select"])
    assert rows(t.to_df()) == want


@pytest.mark.parametrize("engine", ["deduplicate", "partial-update", "aggregation"])
def test_read_plan_costs_constant_jvm_calls_per_column(spark, catalog, engine):
    """Building ``to_df()`` of a primary-key table sends a constant number
    of py4j commands per column list, under every merge engine: the
    projection is one selectExpr of SQL strings and the merge one window
    expression or one aggregate, so a column costs about one command (the
    string crossing), not one per Column-builder call. Only the calling
    thread's commands count: py4j's finalizer thread sends the release
    of earlier JavaObjects (more after a wider upsert) whenever it gets
    to them."""
    import gc
    import threading

    import py4j.clientserver as cs

    def calls(ncol: int) -> int:
        values = [f"c{i}" for i in range(ncol - 1)]
        ddl = ", ".join(["k int"] + [f"{c} bigint" for c in values])
        opts = {"merge-engine": engine}
        if engine == "aggregation":
            opts |= {f"fields.{c}.aggregate-function": "sum" for c in values}
        t = catalog.create_table("default", f"wide{ncol}", ddl,
                                 primary_keys=["k"], options=opts)
        for _ in range(2):
            t.upsert(spark.createDataFrame([tuple(range(ncol))], ddl))
        t.to_df()  # warm the manifest and schema caches
        send, n = cs.ClientServerConnection.send_command, [0]

        def counting(self, command):
            n[0] += threading.current_thread() is caller
            return send(self, command)

        caller = threading.current_thread()
        gc.collect()
        gc.disable()  # py4j's finalizers send commands too
        cs.ClientServerConnection.send_command = counting
        try:
            t.to_df()
        finally:
            cs.ClientServerConnection.send_command = send
            gc.enable()
        return n[0]

    narrow, wide = calls(8), calls(48)
    assert wide - narrow <= 3 * 40, (narrow, wide)


def test_zorder_compact_skips_on_both_columns(spark, catalog):
    """compact(strategy="zorder"): bit-interleaved clustering gives min/max
    file skipping on EACH z-column independently, where lexicographic
    clustering only helps the leading column."""
    from paimon_presto_spark.plans.predicate import P

    def skipping(t, col):
        scan = t.scan(predicate=P.between(col, 100, 140))
        kept = len(scan.plan_files())
        return kept, scan.last_plan["after_partition_prune"]

    # two independent uniform columns — worst case for lexicographic sort
    rows = [(i, (i * 7919) % 1000, f"v{i}") for i in range(1000)]
    schema = "x int, y int, v string"

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        lex = catalog.create_table("default", "zlex", schema)
        lex.append(spark.createDataFrame(rows, schema).repartition(8))
        lex.compact(sort_by=["x", "y"], strategy="order")

        zt = catalog.create_table("default", "zord", schema)
        zt.append(spark.createDataFrame(rows, schema).repartition(8))
        zt.compact(sort_by=["x", "y"], strategy="zorder")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    kept_x, total = skipping(zt, "x")
    kept_y, _ = skipping(zt, "y")
    assert total > 4
    # z-order skips meaningfully on BOTH columns
    assert kept_x <= total // 2 and kept_y <= total // 2, (kept_x, kept_y, total)
    # lexicographic is surgical on x but near-useless on the trailing column
    lex_y, lex_total = skipping(lex, "y")
    assert lex_y > lex_total // 2, (lex_y, lex_total)
    # identical results
    assert rows_of(zt, 100, 140) == sorted(
        (x, y) for x, y, _ in rows if 100 <= x <= 140
    )


def rows_of(t, lo, hi):
    from paimon_presto_spark.plans.predicate import P

    return sorted(
        (r["x"], r["y"])
        for r in t.scan(predicate=P.between("x", lo, hi)).to_df().collect()
    )


def test_zorder_compact_validation(spark, catalog):
    t = catalog.create_table("default", "zval", "a int, s string")
    t.append(spark.createDataFrame([(1, "x")], "a int, s string"))
    with pytest.raises(ValueError, match="2-4 columns"):
        t.compact(sort_by=["a"], strategy="zorder")
    with pytest.raises(ValueError, match="numeric"):
        t.compact(sort_by=["a", "s"], strategy="zorder")
    with pytest.raises(ValueError, match="2-4 columns"):
        t.compact(sort_by=["a"], strategy="hilbert")
    with pytest.raises(ValueError, match="numeric"):
        t.compact(sort_by=["a", "s"], strategy="hilbert")
    with pytest.raises(ValueError, match="unknown compact strategy"):
        t.compact(sort_by=["a"], strategy="spiral")


def test_hilbert_compact_skips_on_both_columns(spark, catalog):
    """compact(strategy="hilbert"): like zorder, min/max file skipping
    works on EACH clustered column independently — plus the curve's
    no-jump locality keeps per-file bounding boxes tight."""
    from paimon_presto_spark.plans.predicate import P

    def skipping(t, col):
        scan = t.scan(predicate=P.between(col, 100, 140))
        return len(scan.plan_files()), scan.last_plan["after_partition_prune"]

    rows = [(i, (i * 7919) % 1000, f"v{i}") for i in range(1000)]
    schema = "x int, y int, v string"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        ht = catalog.create_table("default", "hilb", schema)
        ht.append(spark.createDataFrame(rows, schema).repartition(8))
        ht.compact(sort_by=["x", "y"], strategy="hilbert")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    kept_x, total = skipping(ht, "x")
    kept_y, _ = skipping(ht, "y")
    assert total > 4
    assert kept_x <= total // 2 and kept_y <= total // 2, (kept_x, kept_y, total)
    # identical results through the clustered rewrite
    assert rows_of(ht, 100, 140) == sorted(
        (x, y) for x, y, _ in rows if 100 <= x <= 140
    )


def test_drop_partition(spark, catalog):
    t = catalog.create_table(
        "default", "dp", "v int, region string", partition_keys=["region"]
    )
    t.append(spark.createDataFrame(
        [(1, "eu"), (2, "us"), (3, "eu"), (4, "ap")], "v int, region string"))
    snap = t.drop_partition(region="eu")
    assert snap.commit_kind == "DROP_PARTITION"
    got = sorted((r["v"], r["region"]) for r in t.to_df().collect())
    assert got == [(2, "us"), (4, "ap")]
    # time travel still sees the dropped partition
    assert t.scan(snapshot_id=snap.snapshot_id - 1).to_df().count() == 4
    with pytest.raises(ValueError, match="not a partition key"):
        t.drop_partition(v=1)


def test_expire_partitions_by_time(spark, catalog):
    """partition.expiration-time: date partitions older than the horizon
    drop in ONE metadata-only commit; unparseable values survive."""
    t = catalog.create_table(
        "default", "pexp", "v int, dt string", partition_keys=["dt"],
        options={"partition.expiration-time": "7 d"},
    )
    t.append(spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-05"), (3, "2024-01-20"),
         (4, "not-a-date")],
        "v int, dt string",
    ))
    now = 1705881600000  # 2024-01-22 00:00:00 UTC
    expired = t.expire_partitions(now_ms=now)
    assert sorted(p["dt"] for p in expired) == ["2024-01-01", "2024-01-05"]
    assert t.snapshot().commit_kind == "DROP_PARTITION"
    got = sorted((r["v"], r["dt"]) for r in t.to_df().collect())
    assert got == [(3, "2024-01-20"), (4, "not-a-date")]
    # idempotent: nothing left to expire, no empty commit
    before = t.snapshot().snapshot_id
    assert t.expire_partitions(now_ms=now) == []
    assert t.snapshot().snapshot_id == before
    # explicit horizon override: everything parseable goes
    t.expire_partitions(expiration_ms=0, now_ms=now + 10 * 86_400_000)
    assert [r["dt"] for r in t.to_df().collect()] == ["not-a-date"]


def test_expire_partitions_requires_config_or_arg(spark, catalog):
    t = catalog.create_table(
        "default", "pexp2", "v int, dt string", partition_keys=["dt"]
    )
    t.append(spark.createDataFrame([(1, "2024-01-01")], "v int, dt string"))
    with pytest.raises(ValueError, match="partition.expiration-time"):
        t.expire_partitions()
    t2 = catalog.create_table("default", "pexp3", "v int")
    with pytest.raises(ValueError, match="partitioned"):
        t2.expire_partitions(expiration_ms=0)


def test_nested_type_columns_roundtrip(spark, catalog):
    """Array/map/struct columns through the format: write, merge-on-read,
    subscript access (the reference's map-subscript-over-Paimon-column case,
    TestPrestoITCase.java:705-725; nested writers A5, type mapping A19)."""
    import pyspark.sql.functions as F

    t = catalog.create_table(
        "default", "nested",
        "k int, tags array<string>, props map<string,int>, "
        "info struct<name:string,score:double>",
        primary_keys=["k"],
    )
    df = spark.createDataFrame(
        [
            (1, ["a", "b"], {"x": 1, "y": 2}, ("n1", 0.5)),
            (2, ["c"], {"x": 9}, ("n2", 1.5)),
        ],
        "k int, tags array<string>, props map<string,int>, "
        "info struct<name:string,score:double>",
    )
    t.upsert(df)
    # update key 1's nested values; MoR must keep the latest
    t.upsert(spark.createDataFrame(
        [(1, ["z"], {"x": 7}, ("n1b", 2.5))],
        "k int, tags array<string>, props map<string,int>, "
        "info struct<name:string,score:double>",
    ))
    out = t.to_df()
    got = {
        r["k"]: (r["tags"], dict(r["props"]), (r["info"]["name"], r["info"]["score"]))
        for r in out.collect()
    }
    assert got == {1: (["z"], {"x": 7}, ("n1b", 2.5)), 2: (["c"], {"x": 9}, ("n2", 1.5))}
    # subscript / field access + filter on nested values
    sel = (
        out.select(
            "k",
            F.element_at("props", "x").alias("px"),
            F.col("info").getField("score").alias("score"),
            F.col("tags")[0].alias("t0"),
        )
        .filter(F.col("px") > 5)
        .collect()
    )
    assert sorted((r["k"], r["px"], r["score"], r["t0"]) for r in sel) == [
        (1, 7, 2.5, "z"),
        (2, 9, 1.5, "c"),
    ]


def test_timestamp_fixture_predicates(spark, catalog):
    """FIXTURES test_timestamp (TestPrestoITCase.java:169-197,519-577):
    eq/range predicates on TIMESTAMP_NTZ pk through the format, incl.
    stats-based file skipping never dropping matching rows."""
    import datetime
    from paimon_presto_spark.plans.predicate import P

    ts = datetime.datetime(2023, 1, 1, 1, 1, 1, 123000)
    other = datetime.datetime(2024, 6, 1)
    t = catalog.create_table(
        "default", "t_ts", "ts timestamp_ntz, v int", primary_keys=["ts"],
        options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame([(ts, 1)], "ts timestamp_ntz, v int"))
    t.upsert(spark.createDataFrame([(other, 2)], "ts timestamp_ntz, v int"))

    def vals(pred):
        return sorted(r["v"] for r in t.scan(predicate=pred).to_df().collect())

    assert vals(P.eq("ts", "2023-01-01 01:01:01.123")) == [1]
    assert vals(P.lt("ts", "2024-01-01 00:00:00")) == [1]
    assert vals(P.gte("ts", "2023-01-01 00:00:00")) == [1, 2]
    assert vals(P.between("ts", "2023-01-01 00:00:00", "2023-12-31 00:00:00")) == [1]


def test_decimal_fixture_predicates(spark, catalog):
    """FIXTURES test_decimal (TestPrestoITCase.java:199-223,580-640): short
    and long decimal widths with the full comparison matrix."""
    from decimal import Decimal
    from paimon_presto_spark.plans.predicate import P

    t = catalog.create_table(
        "default", "t_dec", "c1 decimal(20,0), c2 decimal(6,3)",
        primary_keys=["c1", "c2"], options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame(
        [(Decimal(10000000000), Decimal("123.456"))],
        "c1 decimal(20,0), c2 decimal(6,3)"))

    def n(pred):
        return t.scan(predicate=pred).to_df().count()

    assert n(P.eq("c1", Decimal(10000000000))) == 1
    assert n(P.eq("c2", Decimal("123.456"))) == 1
    assert n(P.gt("c2", Decimal("123.455"))) == 1
    assert n(P.lt("c2", Decimal("123.456"))) == 0
    assert n(P.between("c1", Decimal(1), Decimal(10000000001))) == 1
    assert n(P.in_("c2", [Decimal("123.456"), Decimal("9.999")])) == 1
    assert n(P.not_null("c1")) == 1


# --- file.format option: orc data files (PrestoSqlTableOptionUtils.java:
# 111-112 FileFormatType; Paimon's own default is orc) ----------------------


class TestOrcFileFormat:
    def test_orc_append_roundtrip_and_stats_skipping(self, spark, catalog):
        t = catalog.create_table(
            "default", "orc_t", "a int, b string, ts timestamp_ntz",
            options={"file.format": "orc"},
        )
        import datetime
        ts = datetime.datetime(2024, 1, 1)
        t.append(spark.createDataFrame(
            [(1, "x", ts), (2, "y", ts)], "a int, b string, ts timestamp_ntz"))
        t.append(spark.createDataFrame(
            [(10, "z", ts)], "a int, b string, ts timestamp_ntz"))
        assert rows(t.to_df(), "a", "b") == [(1, "x"), (2, "y"), (10, "z")]
        # data files really are orc
        entries = t.manifest_entries()
        assert all(e["path"].endswith(".orc") for e in entries)
        assert all(e["row_count"] > 0 for e in entries)
        # stats-based file skipping works through the Spark-computed stats
        scan = t.scan(predicate=P.gt("a", 5))
        assert rows(scan.to_df(), "a") == [(10,)]
        assert scan.last_plan["after_stats_skip"] < scan.last_plan["total_files"]

    def test_orc_pk_merge_on_read(self, spark, catalog):
        t = catalog.create_table(
            "default", "orc_pk", "k int, v string",
            primary_keys=["k"],
            options={"file.format": "orc", "bucket": "1"},
        )
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
        t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))
        t.delete(spark.createDataFrame([(2, "b")], "k int, v string"))
        assert rows(t.to_df()) == [(1, "a2")]

    def test_orc_partitioned_prune(self, spark, catalog):
        t = catalog.create_table(
            "default", "orc_part", "a int, pt string",
            partition_keys=["pt"],
            options={"file.format": "orc"},
        )
        t.append(spark.createDataFrame(
            [(1, "p1"), (2, "p1"), (3, "p2")], "a int, pt string"))
        scan = t.scan(predicate=P.eq("pt", "p2"))
        assert rows(scan.to_df(), "a") == [(3,)]
        assert scan.last_plan["after_partition_prune"] == 1

    def test_unknown_format_rejected(self, spark, catalog):
        t = catalog.create_table(
            "default", "bad_fmt", "a int", options={"file.format": "csv"})
        with pytest.raises(ValueError, match="unsupported file.format"):
            t.append(spark.createDataFrame([(1,)], "a int"))

    def test_datasource_reads_orc_table(self, spark, catalog):
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        try:
            spark.dataSource.register(PaimonDataSource)
        except Exception:
            pass
        t = catalog.create_table(
            "default", "orc_ds", "k bigint, v string",
            primary_keys=["k"],
            options={"file.format": "orc"},
        )
        t.upsert(spark.range(0, 40).select(
            F.col("id").alias("k"), F.lit("a").alias("v")))
        t.upsert(spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("b").alias("v")))
        got = spark.read.format("paimon").option("path", t.path).load()
        assert got.count() == 40
        byv = {
            r["v"]: r["n"]
            for r in got.groupBy("v").agg(F.count("*").alias("n")).collect()
        }
        assert byv == {"b": 10, "a": 30}
        # matches the DataFrame-path merge
        assert sorted((r["k"], r["v"]) for r in got.collect()) == sorted(
            (r["k"], r["v"]) for r in t.to_df().collect()
        )


def test_show_create_table_roundtrip(spark, catalog):
    """SHOW CREATE TABLE parity (TestPrestoSqlTCase.java:225-234): the
    emitted DDL carries pk/partition/options and re-creates an identical
    table via create_table."""
    catalog.create_table(
        "default", "sct", "k int, pt string, v double",
        primary_keys=["k", "pt"], partition_keys=["pt"],
        options={"bucket": "2"},
    )
    ddl = catalog.show_create_table("default", "sct")
    assert "CREATE TABLE default.sct" in ddl
    assert "k INT" in ddl and "pt STRING" in ddl and "v DOUBLE" in ddl
    assert "primary_key = ARRAY['k', 'pt']" in ddl
    assert "partitioned_by = ARRAY['pt']" in ddl
    assert "'bucket' = '2'" in ddl
    # round-trip: the statement's pieces rebuild an equivalent table
    s1 = catalog.get_table("default", "sct").schema()
    t2 = catalog.create_table(
        "default", "sct2", "k int, pt string, v double",
        primary_keys=s1.primary_keys, partition_keys=s1.partition_keys,
        options=s1.options,
    )
    s2 = t2.schema()
    assert (s1.fields, s1.primary_keys, s1.partition_keys) == (
        s2.fields, s2.primary_keys, s2.partition_keys)


def test_time_of_day_convention(spark, catalog):
    """TIME type (SURVEY §7 hard part 1): micros-since-midnight over BIGINT
    through the table format — string boundary conversions, EXTRACT fields,
    and range predicates with stats-based file skipping as plain integers."""
    from paimon_presto_spark.functions import (
        time_extract, time_from_string, time_to_string)

    t = catalog.create_table("default", "tod", "id int, t_micros bigint")
    src = spark.createDataFrame(
        [(1, "00:00:00"), (2, "09:30:15.250000"), (3, "23:59:59.999999"),
         (4, "bad-time"), (5, "25:00:00")],
        "id int, raw string",
    )
    t.append(src.select("id", time_from_string("raw").alias("t_micros")))
    out = {r["id"]: (r["t_micros"], r["rendered"])
           for r in t.to_df().withColumn(
               "rendered", time_to_string("t_micros")).collect()}
    assert out[1][0] == 0 and out[1][1] == "00:00:00.000000"
    assert out[2][0] == (9 * 3600 + 30 * 60 + 15) * 1_000_000 + 250_000
    assert out[2][1] == "09:30:15.250000"
    assert out[3][0] == 86_400_000_000 - 1
    assert out[4][0] is None and out[5][0] is None  # invalid → NULL
    ex = t.to_df().filter("id = 2").select(
        time_extract("t_micros", "hour").alias("h"),
        time_extract("t_micros", "minute").alias("m"),
        time_extract("t_micros", "second").alias("s"),
        time_extract("t_micros", "microsecond").alias("us"),
    ).collect()[0]
    assert (ex["h"], ex["m"], ex["s"], ex["us"]) == (9, 30, 15, 250000)
    # TIME predicates are plain integer predicates: pushdown + file skipping
    noon = 12 * 3600 * 1_000_000
    got = sorted(r["id"] for r in t.to_df(
        predicate=P.gt("t_micros", noon)).collect())
    assert got == [3]


def test_dynamic_partition_overwrite(spark, catalog):
    """overwrite_dynamic replaces only the partitions present in the input
    (backfill primitive): untouched partitions keep their files and commit
    cost is O(touched partitions)."""
    t = catalog.create_table(
        "default", "dynov", "pt string, a int", partition_keys=["pt"]
    )
    t.append(spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3), ("d3", 4)], "pt string, a int"))
    before = {e["path"] for e in t.manifest_entries()
              if e["partition"]["pt"] in ("d2", "d3")}
    t.overwrite_dynamic(spark.createDataFrame([("d1", 99)], "pt string, a int"))
    assert rows(t.to_df()) == [("d1", 99), ("d2", 3), ("d3", 4)]
    after = {e["path"] for e in t.manifest_entries()
             if e["partition"]["pt"] in ("d2", "d3")}
    assert after == before  # untouched partitions keep their exact files
    with pytest.raises(ValueError, match="partitioned"):
        catalog.create_table("default", "dynov2", "a int").overwrite_dynamic(
            spark.createDataFrame([(1,)], "a int"))


def test_consumers_pin_snapshots_from_expiry(spark, catalog):
    """Consumers (Paimon consumer-id): a lagging reader's unread snapshots
    survive expire_snapshots; advancing or dropping the consumer releases
    them."""
    t = catalog.create_table("default", "cons", "a int")
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "a int"))
    t.register_consumer("readerA", next_snapshot=2)
    assert t.expire_snapshots(keep_last=1) == [1]  # snapshot 1 already read
    assert t.snapshot_ids() == [2, 3, 4, 5]
    # $consumers system table
    got = {(r["consumer_id"], r["next_snapshot"])
           for r in catalog.read_table("default", "cons$consumers").collect()}
    assert got == {("readerA", 2)}
    # reader advances: older snapshots become expirable
    t.register_consumer("readerA", next_snapshot=5)
    assert t.expire_snapshots(keep_last=1) == [2, 3, 4]
    t.drop_consumer("readerA")
    assert t.expire_snapshots(keep_last=1) == []
    assert t.snapshot_ids() == [5]
    assert sorted(r["a"] for r in t.to_df().collect()) == [0, 1, 2, 3, 4]


def test_branches_fork_write_isolation(spark, catalog):
    """Branches: writable metadata forks sharing data files. Writes and
    schema changes on a branch never touch main; pre-fork data is shared,
    not copied."""
    t = catalog.create_table("default", "brt", "a int, v string")
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, v string"))
    t.append(spark.createDataFrame([(3, "z")], "a int, v string"))

    dev = t.create_branch("dev")
    assert rows(dev.to_df()) == rows(t.to_df())  # fork sees main's state
    dev.append(spark.createDataFrame([(9, "dev-only")], "a int, v string"))
    assert rows(dev.to_df(), "a") == [(1,), (2,), (3,), (9,)]
    assert rows(t.to_df(), "a") == [(1,), (2,), (3,)]  # main untouched
    # branch read through the catalog's $branch_ suffix
    assert rows(catalog.read_table("default", "brt$branch_dev"), "a") == [
        (1,), (2,), (3,), (9,)]
    # $branches system table
    bdf = catalog.read_table("default", "brt$branches").collect()
    assert [(r["branch_name"], r["fork_snapshot"], r["latest_snapshot"])
            for r in bdf] == [("dev", 2, 3)]
    # fork at an older snapshot
    old = t.create_branch("old", from_snapshot=1)
    assert rows(old.to_df(), "a") == [(1,), (2,)]
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("dev")
    with pytest.raises(ValueError, match="fork from main"):
        dev.create_branch("nested")


def test_branch_fast_forward_and_divergence(spark, catalog):
    t = catalog.create_table("default", "fft", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    dev = t.create_branch("dev")
    dev.append(spark.createDataFrame([(2,)], "a int"))
    dev.append(spark.createDataFrame([(3,)], "a int"))
    last = t.fast_forward("dev")
    assert last.snapshot_id == 3
    assert rows(t.to_df()) == [(1,), (2,), (3,)]
    assert t.snapshot_ids() == [1, 2, 3]
    # divergence: main moved past the fork point of a new branch
    dev2 = t.create_branch("dev2")
    t.append(spark.createDataFrame([(4,)], "a int"))
    dev2.append(spark.createDataFrame([(5,)], "a int"))
    from paimon_presto_spark.table import CommitConflict
    with pytest.raises(CommitConflict, match="diverged"):
        t.fast_forward("dev2")


def test_branch_protects_files_from_main_expiry(spark, catalog):
    """expire_snapshots on main never deletes data files a branch still
    references (shared-file safety across lineages)."""
    t = catalog.create_table("default", "bexp", "a int")
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "a int"))
    t.create_branch("keeper", from_snapshot=1)  # references snapshot 1's file
    t.compact()  # main rewrites; old files now unreferenced by main's tip
    t.expire_snapshots(keep_last=1)
    assert t.snapshot_ids() == [4]
    # the branch still reads its fork state from the shared files
    kb = t.branch("keeper")
    assert rows(kb.to_df()) == [(0,)]
    # and branch deletion works
    t.delete_branch("keeper")
    assert t.list_branches() == []
    with pytest.raises(ValueError, match="does not exist"):
        t.branch("keeper")


def test_remove_orphan_files(spark, catalog):
    """Orphan cleanup: files stranded by a deleted branch are reclaimed,
    while every file any live lineage (or tag) references survives; fresh
    files are spared by the age guard."""
    import time as _time

    t = catalog.create_table("default", "orph", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))
    dev = t.create_branch("dev")
    dev.append(spark.createDataFrame([(2,)], "a int"))  # file only dev references
    t.compact()  # snapshot 2 on main: fresh rewrite of (1,)
    t.expire_snapshots(keep_last=1)  # drops main snapshot 1 (file shared w/ dev)
    dev_only = {e["path"] for e in t.branch("dev").manifest_entries()}
    # a committer killed before publishing leaves its snapshot temp file
    from paimon_presto_spark.table import _SNAPSHOT_TMP_PREFIX

    stale = os.path.join("snapshot", f"{_SNAPSHOT_TMP_PREFIX}dead")
    with open(os.path.join(t.path, stale), "w") as fh:
        fh.write("{}")

    # age guard: nothing deleted when everything is fresh
    assert t.remove_orphan_files() == []
    t.delete_branch("dev")
    # cutoff in the future → dev-only files now orphaned and old enough
    removed = t.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 10_000)
    assert stale in removed and not os.path.exists(os.path.join(t.path, stale))
    removed.remove(stale)
    assert set(removed) <= dev_only and removed  # only ex-branch files went
    assert rows(t.to_df()) == [(1,)]  # main state intact
    assert t.snapshot_ids() == [2]


def test_rescale_bucket(spark, catalog):
    """Bucket rescale: new schema version with the new bucket count + full
    compaction rewrite; correctness and the new bucket layout verified,
    old snapshots still read under their old layout."""
    t = catalog.create_table(
        "default", "rsb", "k int, v string", primary_keys=["k"],
        options={"bucket": "1"},
    )
    t.upsert(spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k int, v string"))
    assert {e["bucket"] for e in t.manifest_entries()} == {0}
    t.rescale_bucket(4)
    assert len({e["bucket"] for e in t.manifest_entries()}) == 4
    assert t.schema().num_buckets == 4
    got = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert got == {i: f"v{i}" for i in range(40)}
    # upserts after the rescale land in the new layout and merge correctly
    t.upsert(spark.createDataFrame([(7, "NEW")], "k int, v string"))
    assert t.to_df().filter("k = 7").collect()[0]["v"] == "NEW"
    # pre-rescale snapshot still reads
    assert t.scan(snapshot_id=1).to_df().count() == 40
    with pytest.raises(ValueError, match="primary-key"):
        catalog.create_table("default", "rsb2", "a int").rescale_bucket(2)


def test_explain_modes_surface(spark, catalog):
    """EXPLAIN variants (SURVEY §2.2 scans/sources: text/logical/
    distributed formats, PrestoDistributedQueryTest.java:354-363,464-483):
    Spark's simple/extended/formatted/cost modes all render over our
    tables."""
    from paimon_presto_spark.catalog import register_catalog_views

    t = catalog.create_table("default", "exm", "a int, b string")
    t.append(spark.createDataFrame([(1, "x")], "a int, b string"))
    register_catalog_views(catalog, "default")
    q = "SELECT a, COUNT(*) AS n FROM exm WHERE a > 0 GROUP BY a"
    simple = spark.sql(f"EXPLAIN {q}").collect()[0][0]
    assert "Physical Plan" in simple
    extended = spark.sql(f"EXPLAIN EXTENDED {q}").collect()[0][0]
    assert "Parsed Logical Plan" in extended and "Optimized Logical Plan" in extended
    formatted = spark.sql(f"EXPLAIN FORMATTED {q}").collect()[0][0]
    assert "HashAggregate" in formatted
    cost = spark.sql(f"EXPLAIN COST {q}").collect()[0][0]
    assert "sizeInBytes" in cost


def test_incremental_read_between_snapshots(spark, catalog):
    """incremental_df (Paimon incremental-between): per-range change rows,
    compaction commits invisible, O(changed files) planning."""
    t = catalog.create_table("default", "incr", "k int, v string",
                             primary_keys=["k"], options={"bucket": "1"})
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))   # s1
    t.upsert(spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string"))  # s2
    t.compact()                                                                # s3
    t.delete(spark.createDataFrame([(1, "a")], "k int, v string"))             # s4

    # s1..s2: only the second commit's change rows
    got = sorted((r["rowkind"], r["k"], r["v"])
                 for r in t.incremental_df(1, 2).collect())
    assert got == [("+I", 2, "b2"), ("+I", 3, "c")]
    # range spanning the compaction: compact invisible, delete visible
    got = sorted((r["rowkind"], r["k"])
                 for r in t.incremental_df(2).collect())
    assert got == [("-D", 1)]
    # full range from before the first snapshot
    got = sorted((r["rowkind"], r["k"], r["v"])
                 for r in t.incremental_df(0, 2).collect())
    assert got == [("+I", 1, "a"), ("+I", 2, "b"), ("+I", 2, "b2"), ("+I", 3, "c")]
    # empty range and validation
    assert t.incremental_df(4).count() == 0
    with pytest.raises(ValueError, match=">"):
        t.incremental_df(5, 2)
    # append-only tables: plain rows, no rowkind column
    ta = catalog.create_table("default", "incra", "a int")
    ta.append(spark.createDataFrame([(1,)], "a int"))
    ta.append(spark.createDataFrame([(2,)], "a int"))
    inc = ta.incremental_df(1)
    assert "rowkind" not in inc.columns
    assert [r["a"] for r in inc.collect()] == [2]


def test_truncate(spark, catalog):
    """TRUNCATE: O(1) empty-manifest commit; history time-travelable until
    expiry reclaims it."""
    t = catalog.create_table("default", "trunc", "a int")
    t.append(spark.createDataFrame([(1,), (2,)], "a int"))
    snap = t.truncate()
    assert snap.commit_kind == "TRUNCATE" and snap.total_rows == 0
    assert t.to_df().count() == 0
    assert t.scan(snapshot_id=1).to_df().count() == 2  # history intact
    t.append(spark.createDataFrame([(9,)], "a int"))   # writable after
    assert rows(t.to_df()) == [(9,)]
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]


class TestRollbackAndStatistics:
    def test_rollback_to(self, spark, catalog):
        """rollback_to deletes newer snapshots (metadata-only), drops tags
        pinned past the target, clamps consumers, and leaves the rolled-
        back files to remove_orphan_files."""
        t = catalog.create_table("default", "rb", "k int, v string", primary_keys=["k"])
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a")], ddl))            # snap 1
        t.upsert(spark.createDataFrame([(2, "b")], ddl))            # snap 2
        t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], ddl)) # snap 3
        t.create_tag("late", 3)
        t.register_consumer("reader", 4)

        t.rollback_to(2)
        assert t.snapshot_ids() == [1, 2]
        assert t.snapshot().snapshot_id == 2
        got = {r["k"]: r["v"] for r in t.to_df().collect()}
        assert got == {1: "a", 2: "b"}
        assert t.list_tags() == []                      # 'late' pointed past 2
        assert t.list_consumers()["reader"] == 3        # clamped to head+1

        # rolled-back files are orphans now; cleanup reclaims them
        orphans = t.remove_orphan_files(
            older_than_ms=int(time.time() * 1000) + 60_000
        )
        assert orphans
        assert {r["k"] for r in t.to_df().collect()} == {1, 2}

        # writing after rollback reuses the freed snapshot ids
        t.upsert(spark.createDataFrame([(9, "z")], ddl))
        assert t.snapshot().snapshot_id == 3

    def test_rollback_missing_snapshot(self, spark, catalog):
        t = catalog.create_table("default", "rb2", "k int", primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        with pytest.raises(ValueError, match="does not exist"):
            t.rollback_to(7)

    def test_analyze_and_statistics_table(self, spark, catalog):
        t = catalog.create_table("default", "an", "k int, v string")
        t.append(spark.createDataFrame(
            [(1, "aa"), (2, None), (3, "cc"), (3, "cc")], "k int, v string"))
        st = t.analyze()
        assert st["total_rows"] == 4
        assert st["columns"]["v"]["null_count"] == 1
        assert st["columns"]["k"]["min"] == "1" and st["columns"]["k"]["max"] == "3"

        rows = {r["column_name"]: r for r in
                catalog.read_table("default", "an$statistics").collect()}
        assert set(rows) == {"k", "v"}
        assert rows["k"]["total_rows"] == 4
        assert rows["k"]["distinct_count"] == 3
        assert rows["v"]["null_count"] == 1

        # stats stick to their snapshot: a new commit keeps serving the
        # freshest not-newer stats until re-ANALYZE
        t.append(spark.createDataFrame([(4, "dd")], "k int, v string"))
        assert t.latest_statistics()["snapshot_id"] == 1
        t.analyze(columns=["k"])
        st2 = t.latest_statistics()
        assert st2["snapshot_id"] == 2 and list(st2["columns"]) == ["k"]

    def test_analyze_equi_depth_histogram(self, spark, catalog):
        """histogram_bins=N records the N-1 interior quantiles for numeric
        columns only — the selectivity input min/max can't provide on
        skewed data. Sketch accuracy is exact at this row count."""
        t = catalog.create_table("default", "anh", "k int, v string")
        # heavy skew: 90 ones, then 10..19
        data = [(1, "x")] * 90 + [(i, "y") for i in range(10, 20)]
        t.append(spark.createDataFrame(data, "k int, v string"))
        st = t.analyze(histogram_bins=4)
        hist = st["columns"]["k"]["histogram"]
        assert len(hist) == 3  # q25/q50/q75
        # 90 of 100 rows are 1 → every quartile sits on the hot value;
        # min/max alone (1..19) would estimate uniform
        assert hist == [1.0, 1.0, 1.0]
        assert "histogram" not in st["columns"]["v"]  # strings: none
        rows = {r["column_name"]: r for r in t.statistics_df().collect()}
        assert rows["k"]["histogram"] == hist
        assert rows["v"]["histogram"] is None
        # 1 bin = zero interior quantiles, recorded as [] (not NULL)
        assert t.analyze(histogram_bins=1)["columns"]["k"]["histogram"] == []
        # without bins: no histogram key at all (back-compat)
        st2 = t.analyze()
        assert "histogram" not in st2["columns"]["k"]

    def test_statistics_empty_without_analyze(self, spark, catalog):
        t = catalog.create_table("default", "an2", "k int")
        t.append(spark.createDataFrame([(1,)], "k int"))
        assert catalog.read_table("default", "an2$statistics").count() == 0


class TestCdcIngest:
    """Schema-evolving CDC ingestion (sources/cdc.py): unseen columns are
    added, widenable types widen, missing columns null-pad — all
    metadata-only, old files projected on read."""

    def test_add_column_and_null_pad(self, spark, catalog):
        from paimon_presto_spark.sources.cdc import cdc_ingest

        catalog.create_table("default", "cdc1", "k int, v string", primary_keys=["k"])
        cdc_ingest(catalog, "default", "cdc1",
                   spark.createDataFrame([(1, "a")], "k int, v string"))
        # upstream added a column mid-stream
        cdc_ingest(catalog, "default", "cdc1",
                   spark.createDataFrame([(2, "b", 7.5)], "k int, v string, score double"))
        # ...and later sends a batch without it again
        cdc_ingest(catalog, "default", "cdc1",
                   spark.createDataFrame([(3, "c")], "k int, v string"))
        t = catalog.get_table("default", "cdc1")
        got = {r["k"]: (r["v"], r["score"]) for r in t.to_df().collect()}
        assert got == {1: ("a", None), 2: ("b", 7.5), 3: ("c", None)}

    def test_type_widening(self, spark, catalog):
        from paimon_presto_spark.sources.cdc import cdc_ingest

        catalog.create_table("default", "cdc2", "k int, n int", primary_keys=["k"])
        cdc_ingest(catalog, "default", "cdc2",
                   spark.createDataFrame([(1, 5)], "k int, n int"))
        log_df = spark.createDataFrame([(2, 2**40)], "k int, n bigint")
        cdc_ingest(catalog, "default", "cdc2", log_df)
        t = catalog.get_table("default", "cdc2")
        s = t.schema()
        assert next(f["type"] for f in s.fields if f["name"] == "n") == "bigint"
        got = {r["k"]: r["n"] for r in t.to_df().collect()}
        assert got == {1: 5, 2: 2**40}

    def test_narrower_input_casts_up(self, spark, catalog):
        from paimon_presto_spark.sources.cdc import cdc_ingest

        catalog.create_table("default", "cdc3", "k int, n bigint", primary_keys=["k"])
        cdc_ingest(catalog, "default", "cdc3",
                   spark.createDataFrame([(1, 5)], "k int, n int"))
        t = catalog.get_table("default", "cdc3")
        assert next(f["type"] for f in t.schema().fields if f["name"] == "n") == "bigint"

    def test_incompatible_change_rejected_whole(self, spark, catalog):
        from paimon_presto_spark.sources.cdc import cdc_ingest

        catalog.create_table("default", "cdc4", "k int, v string", primary_keys=["k"])
        with pytest.raises(ValueError, match="incompatible"):
            cdc_ingest(catalog, "default", "cdc4",
                       spark.createDataFrame([(1, 3)], "k int, v int"))
        # nothing was applied
        t = catalog.get_table("default", "cdc4")
        assert next(f["type"] for f in t.schema().fields if f["name"] == "v") == "string"
        assert t.snapshot() is None

    def test_missing_pk_rejected(self, spark, catalog):
        from paimon_presto_spark.sources.cdc import cdc_ingest

        catalog.create_table("default", "cdc5", "k int, v string", primary_keys=["k"])
        with pytest.raises(ValueError, match="primary-key"):
            cdc_ingest(catalog, "default", "cdc5",
                       spark.createDataFrame([("x",)], "v string"))

    def test_update_column_type_guards(self, spark, catalog):
        catalog.create_table("default", "cdc6", "k int, n bigint, pt string",
                             partition_keys=["pt"])
        with pytest.raises(ValueError, match="narrow"):
            catalog.update_column_type("default", "cdc6", "n", "int")
        with pytest.raises(ValueError, match="partition"):
            catalog.update_column_type("default", "cdc6", "pt", "int")


class TestLookupChangelogProducer:
    """changelog-producer=lookup: every commit materializes a retraction
    changelog (I / UB / UA / D = Paimon's +I/-U/+U/-D) by looking up
    pre-images at write time."""

    def _mk(self, catalog, name, **opts):
        return catalog.create_table(
            "default", name, "k int, v string", primary_keys=["k"],
            options={"changelog-producer": "lookup", **opts},
        )

    def test_upsert_and_delete_changelog(self, spark, catalog):
        t = self._mk(catalog, "clg1")
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))    # snap 1
        t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], ddl))   # snap 2
        t.delete(spark.createDataFrame([(2, "b")], ddl))              # snap 3

        rows = [
            (r["k"], r["v"], r["__row_kind"], r["__seq"])
            for r in t.changelog_df().orderBy("__seq", "__row_kind", "k").collect()
        ]
        assert rows == [
            (1, "a", "I", 1), (2, "b", "I", 1),
            (3, "c", "I", 2), (1, "a2", "UA", 2), (1, "a", "UB", 2),
            (2, "b", "D", 3),
        ]
        # range read: only snapshot 2's changelog
        mid = {(r["k"], r["__row_kind"]) for r in t.changelog_df(1, 2).collect()}
        assert mid == {(3, "I"), (1, "UB"), (1, "UA")}
        # merged read unaffected
        assert {r["k"]: r["v"] for r in t.to_df().collect()} == {1: "a2", 3: "c"}

    def test_retraction_consumer_can_rebuild_state(self, spark, catalog):
        """Applying the changelog (I/UA add, UB/D subtract) reproduces the
        merged state — the invariant that makes retraction streams useful
        for downstream aggregations."""
        t = self._mk(catalog, "clg2")
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "x"), (2, "y")], ddl))
        t.upsert(spark.createDataFrame([(2, "y2")], ddl))
        t.delete(spark.createDataFrame([(1, "x")], ddl))
        clg = t.changelog_df()
        applied = (
            clg.withColumn(
                "w",
                F.when(F.col("__row_kind").isin("I", "UA"), 1).otherwise(-1))
            .groupBy("k", "v").agg(F.sum("w").alias("n"))
            .filter("n > 0")
        )
        got = {(r["k"], r["v"]) for r in applied.collect()}
        want = {(r["k"], r["v"]) for r in t.to_df().collect()}
        assert got == want == {(2, "y2")}

    def test_works_with_deletion_vectors(self, spark, catalog):
        t = self._mk(catalog, "clg3", **{"deletion-vectors.enabled": "true"})
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a")], ddl))
        t.upsert(spark.createDataFrame([(1, "a2")], ddl))
        t.delete(spark.createDataFrame([(1, "a2")], ddl))
        kinds = [
            (r["__row_kind"], r["__seq"])
            for r in t.changelog_df().orderBy("__seq", "__row_kind").collect()
        ]
        assert kinds == [("I", 1), ("UA", 2), ("UB", 2), ("D", 3)]
        assert t.to_df().count() == 0

    def test_aggregation_engine_now_produces(self, spark, catalog):
        """Historical guard replaced: the combining engines produce lookup
        changelogs too (TestCombiningEngineChangelog covers semantics)."""
        t = catalog.create_table(
            "default", "clg4", "k int, total int", primary_keys=["k"],
            options={"changelog-producer": "lookup",
                     "merge-engine": "aggregation",
                     "fields.total.aggregate-function": "sum"},
        )
        t.upsert(spark.createDataFrame([(1, 5)], "k int, total int"))
        assert [r["__row_kind"] for r in t.changelog_df().collect()] == ["I"]

    def test_char_key_finds_its_pre_image(self, spark, catalog):
        """CHAR keys are stored blank-padded; the batch's unpadded key must
        still find the stored row, so an update emits UB/UA, not a second
        I."""
        t = catalog.create_table(
            "default", "clgch", "k char(3), v string", primary_keys=["k"],
            options={"changelog-producer": "lookup"},
        )
        ddl = "k string, v string"
        t.upsert(spark.createDataFrame([("ab", "x")], ddl))
        t.upsert(spark.createDataFrame([("ab", "y")], ddl))
        rows = sorted(
            (r["__seq"], r["__row_kind"], r["k"], r["v"])
            for r in t.changelog_df().collect()
        )
        assert rows == [
            (1, "I", "ab ", "x"), (2, "UA", "ab ", "y"), (2, "UB", "ab ", "x"),
        ]

    def test_changelog_df_requires_lookup_producer(self, spark, catalog):
        t = catalog.create_table("default", "clg5", "k int", primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        with pytest.raises(ValueError, match="lookup"):
            t.changelog_df()

    def test_expiry_reclaims_changelog(self, spark, catalog):
        import os as _os

        t = self._mk(catalog, "clg6")
        ddl = "k int, v string"
        for i in range(4):
            t.upsert(spark.createDataFrame([(i, f"v{i}")], ddl))
        clg_root = _os.path.join(t.meta_path, "changelog")
        assert len(_os.listdir(clg_root)) == 4
        t.expire_snapshots(keep_last=2)
        assert len(_os.listdir(clg_root)) == 2
        # surviving range still reads (distinct keys → one I row per commit)
        assert t.changelog_df(2).count() == 2

    def test_changelog_follows_rename_by_field_id(self, spark, catalog, tmp_path):
        """Each commit's changelog keeps the schema it was written in: after
        ``rename_column`` the batch changelog read and the lookup-producer
        stream both find the renamed column by field id instead of
        null-filling it."""
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        t = self._mk(catalog, "clg7")
        t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
        catalog.rename_column("default", "clg7", "v", "w")
        t = catalog.get_table("default", "clg7")
        t.upsert(spark.createDataFrame([(1, "b")], "k int, w string"))
        want = [(1, "a", "I", 1), (1, "b", "UA", 2), (1, "a", "UB", 2)]

        def rows(df):
            return [
                (r["k"], r["w"], r["__row_kind"], r["__seq"])
                for r in df.orderBy("__seq", "__row_kind").collect()
            ]

        assert rows(t.changelog_df()) == want
        spark.dataSource.register(PaimonDataSource)
        q = (
            spark.readStream.format("paimon").option("path", t.path)
            .option("changelog", "true").load()
            .writeStream.format("memory").queryName("clg7_out")
            .option("checkpointLocation", str(tmp_path / "ck-clg7"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert rows(spark.table("clg7_out")) == want


class TestAutoTagsAndRo:
    def test_auto_tag_creation_and_retention(self, spark, catalog):
        import time as _time

        t = catalog.create_table(
            "default", "att", "k int, v string", primary_keys=["k"],
            options={"tag.automatic-creation": "process-time",
                     "tag.creation-period": "daily"},
        )
        ddl = "k int, v string"
        today = _time.strftime("%Y-%m-%d", _time.gmtime())
        t.upsert(spark.createDataFrame([(1, "a")], ddl))
        assert t.list_tags() == [today]
        # same period: second commit does not move or duplicate the tag
        t.upsert(spark.createDataFrame([(2, "b")], ddl))
        assert t.list_tags() == [today]
        assert t.tag_snapshot(today).snapshot_id == 1
        # the tag serves reproducible time travel to the period's pin
        assert {r["k"] for r in t.to_df(tag=today).collect()} == {1}

    def test_auto_tag_retention_spares_manual_tags(self, spark, catalog):
        t = catalog.create_table(
            "default", "att2", "k int", primary_keys=["k"],
            options={"tag.automatic-creation": "process-time",
                     "tag.num-retained-max": "0"},
        )
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        t.create_tag("manual", 1)
        # next commit prunes auto tags past the max (0 here) but not manual
        t.upsert(spark.createDataFrame([(2,)], "k int"))
        assert t.list_tags() == ["manual"]

    def test_ro_reads_last_compacted_state(self, spark, catalog):
        t = catalog.create_table("default", "ro1", "k int, v string",
                                 primary_keys=["k"])
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
        # nothing compacted yet: the read-optimized view is empty
        assert catalog.read_table("default", "ro1$ro").count() == 0
        t.compact()
        ro = {r["k"]: r["v"] for r in catalog.read_table("default", "ro1$ro").collect()}
        assert ro == {1: "a", 2: "b"}
        # fresher commits are invisible to $ro until the next compaction
        t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], ddl))
        ro = {r["k"]: r["v"] for r in catalog.read_table("default", "ro1$ro").collect()}
        assert ro == {1: "a", 2: "b"}
        assert {r["k"]: r["v"] for r in t.to_df().collect()} == {
            1: "a2", 2: "b", 3: "c"}
        t.compact()
        ro = {r["k"]: r["v"] for r in catalog.read_table("default", "ro1$ro").collect()}
        assert ro == {1: "a2", 2: "b", 3: "c"}


class TestDeltaManifests:
    """Base+delta manifests: a commit writes O(changed files), the read
    path folds list members, and full compaction bounds the fold."""

    def _manifest_kinds(self, t):
        import os as _os
        out = []
        for sid in t.snapshot_ids():
            snap = t.snapshot(sid)
            with open(_os.path.join(t.meta_path, "manifest", snap.manifest)) as fh:
                d = json.load(fh)
            out.append("list" if "manifests" in d else "full")
        return out

    def test_deltas_then_full_compaction(self, spark, catalog):
        t = catalog.create_table(
            "default", "dm", "k int, v string", primary_keys=["k"],
            options={"manifest.full-compaction-threshold": "4"},
        )
        ddl = "k int, v string"
        for i in range(6):
            t.upsert(spark.createDataFrame([(i, f"v{i}")], ddl))
        kinds = self._manifest_kinds(t)
        # first commit full; then deltas; threshold 4 forces a re-base
        assert kinds[0] == "full"
        assert "list" in kinds and kinds.count("full") >= 2
        # every snapshot still reads its exact historical state
        for sid in t.snapshot_ids():
            assert t.to_df(snapshot_id=sid).count() == sid
        assert {r["k"] for r in t.to_df().collect()} == set(range(6))

    def test_delta_size_is_bounded_by_commit(self, spark, catalog):
        import os as _os
        t = catalog.create_table(
            "default", "dm2", "k int, v string", primary_keys=["k"],
            options={"manifest.full-compaction-threshold": "100"},
        )
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(i, "x") for i in range(50)], ddl))
        for i in range(5):
            t.upsert(spark.createDataFrame([(i, "y")], ddl))
        snap = t.snapshot()
        with open(_os.path.join(t.meta_path, "manifest", snap.manifest)) as fh:
            d = json.load(fh)
        assert "manifests" in d
        last_delta = d["manifests"][-1]
        with open(_os.path.join(t.meta_path, "manifest", last_delta)) as fh:
            delta = json.load(fh)
        # the last commit touched ONE bucket: its delta lists one add
        assert len(delta["adds"]) == 1 and delta["removes"] == []

    def test_expiry_keeps_shared_members(self, spark, catalog):
        t = catalog.create_table(
            "default", "dm3", "k int, v string", primary_keys=["k"],
            options={"manifest.full-compaction-threshold": "100"},
        )
        ddl = "k int, v string"
        for i in range(6):
            t.upsert(spark.createDataFrame([(i, f"v{i}")], ddl))
        t.expire_snapshots(keep_last=2)
        # surviving snapshots share delta members with the expired ones;
        # both must still read correctly
        for sid in t.snapshot_ids():
            assert t.to_df(snapshot_id=sid).count() == sid

    def test_compact_after_deltas_and_branch(self, spark, catalog):
        t = catalog.create_table(
            "default", "dm4", "k int, v string", primary_keys=["k"])
        ddl = "k int, v string"
        for i in range(3):
            t.upsert(spark.createDataFrame([(i, f"v{i}")], ddl))
        t.create_branch("b")
        t.compact()
        t.upsert(spark.createDataFrame([(9, "z")], ddl))
        assert t.to_df().count() == 4
        b = t.branch("b")
        assert b.to_df().count() == 3  # fork state intact, members copied
        b.upsert(spark.createDataFrame([(7, "w")], ddl))
        assert b.to_df().count() == 4


class TestChangelogExtras:
    def test_first_row_changelog_insert_only(self, spark, catalog):
        """first-row + lookup producer: only genuinely-new keys emit I
        rows; updates to existing keys are no-ops and emit NOTHING."""
        t = catalog.create_table(
            "default", "clgfr", "k int, v string", primary_keys=["k"],
            options={"changelog-producer": "lookup",
                     "merge-engine": "first-row"},
        )
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a"), (1, "later"), (2, "b")], ddl))
        t.upsert(spark.createDataFrame([(1, "ignored"), (3, "c")], ddl))
        rows = [(r["k"], r["v"], r["__row_kind"], r["__seq"]) for r in
                t.changelog_df().orderBy("__seq", "k").collect()]
        assert rows == [(1, "a", "I", 1), (2, "b", "I", 1), (3, "c", "I", 2)]
        assert {r["k"]: r["v"] for r in t.to_df().collect()} == {
            1: "a", 2: "b", 3: "c"}

    def test_incremental_between_tags(self, spark, catalog):
        t = catalog.create_table("default", "inctag", "k int, v string",
                                 primary_keys=["k"])
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a")], ddl))
        t.create_tag("r1")
        t.upsert(spark.createDataFrame([(2, "b")], ddl))
        t.upsert(spark.createDataFrame([(1, "a2")], ddl))
        t.create_tag("r2")
        got = {(r["k"], r["rowkind"]) for r in
               t.incremental_df("r1", "r2").collect()}
        assert got == {(2, "+I"), (1, "+I")}
        # tag bound survives snapshot expiry (tags pin their payloads)
        t.upsert(spark.createDataFrame([(9, "z")], ddl))
        t.expire_snapshots(keep_last=1)
        assert t.incremental_df("r2").count() == 1  # just key 9


class TestConcurrentCommits:
    def test_parallel_appends_all_land(self, spark, catalog):
        """A22 snapshot isolation under contention: N threads append
        concurrently; every commit either lands atomically or retries —
        no lost rows, no duplicate snapshot ids, contiguous history. A
        reader polling the latest snapshot and its manifest meanwhile
        never sees a partial snapshot."""
        import threading

        t = catalog.create_table("default", "cc1", "w int, v int")
        errs = []
        read_errs = []
        done = threading.Event()

        def reader():
            while not done.is_set():
                try:
                    t.manifest_entries(t.snapshot())
                except Exception as e:  # pragma: no cover - failure detail
                    read_errs.append(e)
                time.sleep(0.001)

        poller = threading.Thread(target=reader)
        poller.start()

        def writer(w):
            try:
                df = spark.createDataFrame([(w, i) for i in range(10)],
                                           "w int, v int")
                catalog.get_table("default", "cc1").append(df)
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        done.set()
        poller.join()
        assert not errs
        assert not read_errs
        ids = t.snapshot_ids()
        assert ids == list(range(1, 7))          # contiguous, no gaps
        assert t.to_df().count() == 60           # nothing lost
        per_writer = {
            r["w"]: r["n"]
            for r in t.to_df().groupBy("w").agg(F.count("*").alias("n")).collect()
        }
        assert per_writer == {w: 10 for w in range(6)}
        # every snapshot reads a consistent prefix (10 * k rows)
        for sid in ids:
            assert t.to_df(snapshot_id=sid).count() == 10 * sid

    def test_crash_before_publish_keeps_previous_snapshot(
        self, spark, catalog, monkeypatch
    ):
        """A committer that dies after writing its manifest but before
        publishing the snapshot leaves no trace readers can see: the
        Table API and the DataSource both still answer the previous
        snapshot, and the next commit takes the unclaimed id."""
        from paimon_presto_spark.sources.datasource import PaimonDataSource
        from paimon_presto_spark.table import Snapshot

        t = catalog.create_table("default", "crash1", "a int")
        t.append(spark.createDataFrame([(1,)], "a int"))
        real_to_json = Snapshot.to_json
        calls = []

        def crash_once(snap):
            calls.append(snap.snapshot_id)
            if len(calls) == 1:
                raise OSError("injected crash during commit")
            return real_to_json(snap)

        monkeypatch.setattr(Snapshot, "to_json", crash_once)
        with pytest.raises(OSError, match="injected"):
            t.append(spark.createDataFrame([(2,)], "a int"))
        assert calls == [2]
        assert t.snapshot().snapshot_id == 1
        spark.dataSource.register(PaimonDataSource)
        assert spark.read.format("paimon").option("path", t.path).load().count() == 1
        t.append(spark.createDataFrame([(3,)], "a int"))
        assert t.snapshot().snapshot_id == 2
        assert rows(t.to_df()) == [(1,), (3,)]

    @pytest.mark.parametrize(
        "point", ["before_manifest", "before_link", "before_auto_tag"]
    )
    def test_crash_point_leaves_old_or_new_snapshot(
        self, spark, catalog, monkeypatch, point
    ):
        """A commit that raises at any point leaves the table at the old
        snapshot or the new one, whole: after the data files are written
        but before the manifest, after the manifest but before the
        snapshot link, or after the link but before auto-tag and expiry.
        The next commit succeeds, and ``remove_orphan_files`` sweeps
        exactly what the failed commit left behind."""
        from paimon_presto_spark import table as table_mod
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        t = catalog.create_table(
            "default", f"crash_{point}", "k int, v string",
            primary_keys=["k"], options={"bucket": "2"},
        )
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))

        def listing():
            out = set()
            for sub in ("data", "manifest", "snapshot"):
                for root, _dirs, files in os.walk(os.path.join(t.path, sub)):
                    out |= {os.path.relpath(os.path.join(root, f), t.path)
                            for f in files}
            return out

        def boom(*_args, **_kwargs):
            raise OSError("injected crash during commit")

        before = listing()
        with monkeypatch.context() as m:
            if point == "before_manifest":
                m.setattr(table_mod.Table, "_write_manifest", boom)
            elif point == "before_link":
                m.setattr(table_mod.os, "link", boom)
            else:
                m.setattr(table_mod.Table, "_maybe_auto_tag", boom)
            with pytest.raises(OSError, match="injected"):
                t.upsert(spark.createDataFrame(
                    [(2, "B"), (3, "c")], "k int, v string"))
        leftovers = listing() - before
        assert leftovers  # the failed commit wrote something

        old, new = [(1, "a"), (2, "b")], [(1, "a"), (2, "B"), (3, "c")]
        landed = point == "before_auto_tag"
        assert t.snapshot().snapshot_id == (2 if landed else 1)
        assert rows(t.to_df()) == (new if landed else old)
        spark.dataSource.register(PaimonDataSource)
        got = spark.read.format("paimon").option("path", t.path).load()
        assert rows(got) == (new if landed else old)

        t.upsert(spark.createDataFrame([(4, "d")], "k int, v string"))
        assert t.snapshot().snapshot_id == (3 if landed else 2)
        expect = (new if landed else old) + [(4, "d")]
        assert rows(t.to_df()) == expect

        removed = t.remove_orphan_files(
            older_than_ms=int(time.time() * 1000) + 10_000
        )
        # a landed commit left nothing behind; a failed one is swept whole
        assert set(removed) == (set() if landed else leftovers)
        assert not any(os.path.exists(os.path.join(t.path, p)) for p in removed)
        assert rows(t.to_df()) == expect
        assert t.to_df(snapshot_id=1).count() == 2

    def test_crash_before_link_leaves_changelog_to_orphan_sweep(
        self, spark, catalog, monkeypatch
    ):
        """A ``changelog-producer=lookup`` commit that dies before its
        snapshot link leaves a changelog dir no snapshot names.
        ``remove_orphan_files`` sweeps it, and the next commit's
        changelog neither sees the failed commit's rows nor its dir."""
        from paimon_presto_spark import table as table_mod

        ddl = "k int, v string"
        t = catalog.create_table(
            "default", "crash_clg", ddl, primary_keys=["k"],
            options={"bucket": "1", "changelog-producer": "lookup"},
        )

        def boom(*_args, **_kwargs):
            raise OSError("injected crash during commit")

        with monkeypatch.context() as m:
            m.setattr(table_mod.os, "link", boom)
            with pytest.raises(OSError, match="injected"):
                t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
        clg_root = os.path.join(t.meta_path, "changelog")
        leaked = {os.path.join("changelog", n) for n in os.listdir(clg_root)}
        assert len(leaked) == 1

        t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ddl))
        removed = t.remove_orphan_files(
            older_than_ms=int(time.time() * 1000) + 10_000
        )
        assert leaked <= set(removed)
        assert not any(os.path.exists(os.path.join(t.path, p)) for p in leaked)
        got = t.changelog_df().select("k", "v", "__row_kind", "__seq")
        assert rows(got) == [(2, "B", "I", 1), (3, "c", "I", 1)]
        assert rows(t.to_df()) == [(2, "B"), (3, "c")]


class TestCommitRule:
    """One commit rule: a mutation publishes at the snapshot after the one
    it computed from, or raises ``CommitConflict``. Only commits that read
    nothing but their parent's listing re-plan against the new latest and
    retry. Each case lands a second commit, from another ``Table`` object,
    at a chosen point inside the first."""

    DDL = "k int, v string"

    @staticmethod
    def _intrude(monkeypatch, t, method, intruder, before=False):
        """Run `intruder` once, during the first call of ``t.<method>``:
        after it returns, or before it runs when `before`."""
        real = getattr(t, method)
        fired = []

        def wrapped(*args, **kwargs):
            if before and not fired:
                fired.append(method)
                intruder()
            out = real(*args, **kwargs)
            if not fired:
                fired.append(method)
                intruder()
            return out

        monkeypatch.setattr(t, method, wrapped)
        return fired

    def _pk_table(self, catalog, name, **options):
        return catalog.create_table(
            "default", name, self.DDL, primary_keys=["k"],
            options={"bucket": "1", **options},
        )

    @pytest.mark.parametrize("pk", [True, False], ids=["pk", "append"])
    def test_compact_conflicts_and_keeps_intruder_rows(
        self, spark, catalog, monkeypatch, pk
    ):
        from paimon_presto_spark.table import CommitConflict

        name = f"rule_compact_{'pk' if pk else 'append'}"
        t = (self._pk_table(catalog, name) if pk
             else catalog.create_table("default", name, self.DDL))
        other = catalog.get_table("default", name)
        df = lambda data: spark.createDataFrame(data, self.DDL)  # noqa: E731
        (t.upsert if pk else t.append)(df([(1, "a"), (2, "b")]))
        (t.upsert if pk else t.append)(df([(2, "bb")]))
        fired = self._intrude(
            monkeypatch, t, "_write_data_files",
            lambda: (other.upsert if pk else other.append)(df([(3, "c")])),
        )
        with pytest.raises(CommitConflict):
            t.compact()
        assert fired
        assert t.snapshot_ids() == [1, 2, 3]
        assert rows(t.to_df()) == (
            [(1, "a"), (2, "bb"), (3, "c")] if pk
            else [(1, "a"), (2, "b"), (2, "bb"), (3, "c")]
        )

    def test_pk_upsert_race_conflicts_and_intruder_value_stays(
        self, spark, catalog, monkeypatch
    ):
        from paimon_presto_spark.table import CommitConflict

        t = self._pk_table(catalog, "rule_upsert")
        other = catalog.get_table("default", "rule_upsert")
        t.upsert(spark.createDataFrame([(1, "a")], self.DDL))
        self._intrude(
            monkeypatch, t, "_write_data_files",
            lambda: other.upsert(spark.createDataFrame([(1, "y")], self.DDL)),
        )
        with pytest.raises(CommitConflict):
            t.upsert(spark.createDataFrame([(1, "x")], self.DDL))
        assert t.snapshot_ids() == [1, 2]
        assert rows(t.to_df()) == [(1, "y")]

    def test_lookup_changelog_upsert_conflicts_after_changelog(
        self, spark, catalog, monkeypatch
    ):
        """The intruder lands after the changelog was computed: the commit
        raises, and no changelog computed from the older snapshot is
        published."""
        from paimon_presto_spark.table import CommitConflict

        t = self._pk_table(catalog, "rule_clg", **{"changelog-producer": "lookup"})
        other = catalog.get_table("default", "rule_clg")
        t.upsert(spark.createDataFrame([(1, "a")], self.DDL))
        fired = self._intrude(
            monkeypatch, t, "_write_changelog",
            lambda: other.upsert(spark.createDataFrame([(1, "y")], self.DDL)),
        )
        with pytest.raises(CommitConflict):
            t.upsert(spark.createDataFrame([(1, "x")], self.DDL))
        assert fired
        assert t.snapshot_ids() == [1, 2]
        got = t.changelog_df().select("k", "v", "__row_kind", "__seq")
        assert rows(got) == [(1, "a", "I", 1), (1, "a", "UB", 2), (1, "y", "UA", 2)]
        assert rows(t.to_df()) == [(1, "y")]

    def test_merge_into_conflicts(self, spark, catalog, monkeypatch):
        """`merge_into` matched its source against the snapshot it read;
        key 2 was unmatched there, so publishing its insert on top of the
        intruder's key 2 would apply a stale matched set."""
        from paimon_presto_spark.table import CommitConflict

        t = self._pk_table(catalog, "rule_merge")
        other = catalog.get_table("default", "rule_merge")
        t.upsert(spark.createDataFrame([(1, "a")], self.DDL))
        self._intrude(
            monkeypatch, t, "_write_data_files",
            lambda: other.upsert(spark.createDataFrame([(2, "b")], self.DDL)),
        )
        with pytest.raises(CommitConflict):
            t.merge_into(
                spark.createDataFrame([(1, "x"), (2, "z")], self.DDL),
                when_matched="ignore",
            )
        assert t.snapshot_ids() == [1, 2]
        assert rows(t.to_df()) == [(1, "a"), (2, "b")]

    def test_parallel_pk_upserts_land_whole_or_conflict(self, spark, catalog):
        """Six threads upsert the same key at once. Each either lands or
        raises ``CommitConflict``; history stays contiguous, every landed
        commit's row carries its own snapshot id as ``__seq`` (no two
        commits tie), and the merged value is the newest landed one."""
        import sys
        import threading

        from paimon_presto_spark.table import CommitConflict

        t = self._pk_table(catalog, "rule_threads")
        t.upsert(spark.createDataFrame([(0, "seed")], self.DDL))
        landed, errs = {}, []

        def writer(w):
            other = catalog.get_table("default", "rule_threads")
            try:
                snap = other.upsert(spark.createDataFrame([(0, f"w{w}")], self.DDL))
                landed[snap.snapshot_id] = f"w{w}"
            except CommitConflict:
                pass
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=300)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert not errs
        assert landed
        assert t.snapshot_ids() == list(range(1, 2 + len(landed)))
        raw = t.scan().to_df(merge=False).select("v", "__seq").collect()
        assert sorted((r["__seq"], r["v"]) for r in raw) == sorted(
            [(1, "seed")] + list(landed.items()))
        assert rows(t.to_df()) == [(0, landed[max(landed)])]

    @pytest.mark.parametrize(
        "op", ["drop_partition", "expire_partitions", "truncate"]
    )
    def test_metadata_commits_replan_and_keep_intruder_files(
        self, spark, catalog, monkeypatch, op
    ):
        ddl = "dt string, v int"
        t = catalog.create_table(
            "default", f"rule_{op}", ddl, partition_keys=["dt"]
        )
        other = catalog.get_table("default", f"rule_{op}")
        t.append(spark.createDataFrame(
            [("2020-01-01", 1), ("2030-01-01", 2)], ddl))
        fired = self._intrude(
            monkeypatch, t, "_publish_snapshot",
            lambda: other.append(spark.createDataFrame([("2031-01-01", 9)], ddl)),
            before=True,
        )
        if op == "drop_partition":
            t.drop_partition(dt="2020-01-01")
        elif op == "expire_partitions":
            now_ms = 1_700_000_000_000  # 2023-11-14: only 2020-01-01 is old
            assert t.expire_partitions(expiration_ms=1, now_ms=now_ms) == [
                {"dt": "2020-01-01"}]
        else:
            t.truncate()
        assert fired
        assert t.snapshot_ids() == [1, 2, 3]
        assert rows(t.to_df(snapshot_id=2)) == [
            ("2020-01-01", 1), ("2030-01-01", 2), ("2031-01-01", 9)]
        assert rows(t.to_df()) == (
            [] if op == "truncate" else [("2030-01-01", 2), ("2031-01-01", 9)]
        )


# delete steps (os.remove calls plus directory removals) of
# ``expire_snapshots(keep_last=1)`` and snapshot unlinks of
# ``rollback_to(2)`` on the TestRetentionCrashPoints template table;
# test_every_step_is_covered pins both counts
_EXPIRE_STEPS = 17
_ROLLBACK_STEPS = 3


class TestRetentionCrashPoints:
    """Retention stays crash-safe at every delete step. A crash in
    ``expire_snapshots`` or ``rollback_to`` leaves every listed snapshot
    readable on both read paths, rollback leaves a contiguous id prefix,
    and ``remove_orphan_files`` and a re-run of the operation succeed.
    Each case runs on a fresh copy of one template table: five
    snapshots of a primary-key table with a lookup changelog, the
    fourth a compaction, so expiry really deletes data files. Cleanup
    only deletes, so snapshots whole after ``remove_orphan_files`` were
    whole right after the crash too."""

    DDL = "k int, v string"

    @pytest.fixture(scope="class")
    def template(self, spark, tmp_path_factory):
        from paimon_presto_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path_factory.mktemp("retention")))
        cat.create_database("default")
        t = cat.create_table(
            "default", "ret", self.DDL, primary_keys=["k"],
            options={"bucket": "1", "changelog-producer": "lookup"},
        )
        t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], self.DDL))
        t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], self.DDL))
        t.delete(spark.createDataFrame([(1, "")], self.DDL))
        t.compact()
        t.upsert(spark.createDataFrame([(4, "d")], self.DDL))
        assert t.snapshot(4).commit_kind == "COMPACT"
        return t.path

    # rows of each snapshot, and the changelog as (__seq, k, v, __row_kind)
    EXPECT = {
        1: [(1, "a"), (2, "b")],
        2: [(1, "a"), (2, "B"), (3, "c")],
        3: [(2, "B"), (3, "c")],
        4: [(2, "B"), (3, "c")],
        5: [(2, "B"), (3, "c"), (4, "d")],
    }
    CHANGELOG = [
        (1, 1, "a", "I"), (1, 2, "b", "I"),
        (2, 2, "B", "UA"), (2, 2, "b", "UB"), (2, 3, "c", "I"),
        (3, 1, "a", "D"),
        (5, 4, "d", "I"),
    ]

    @staticmethod
    def _copy(spark, template, tmp_path):
        import shutil

        from paimon_presto_spark.table import Table

        dst = str(tmp_path / "ret")
        shutil.copytree(template, dst)
        return Table(spark, dst)

    @staticmethod
    def _crash_at(m, k, counts=lambda path: True):
        """Make the k-th counted delete raise; returns the counted paths.
        A delete is an ``os.remove`` or a directory removal."""
        from paimon_presto_spark import table as table_mod

        calls = []

        def step(real):
            def delete(path, *args, **kwargs):
                if counts(path):
                    calls.append(path)
                    if len(calls) == k:
                        raise OSError("injected crash during retention")
                return real(path, *args, **kwargs)
            return delete

        m.setattr(table_mod.os, "remove", step(os.remove))
        m.setattr(table_mod, "_rmtree_quiet", step(table_mod._rmtree_quiet))
        return calls

    @staticmethod
    def _is_snapshot(path):
        return os.path.basename(path).startswith("snapshot-")

    def _assert_whole(self, spark, t):
        """Every listed snapshot reads its committed rows through the
        Table API and the DataSource, as a fresh reader would, and so
        does the changelog of the listed range."""
        from paimon_presto_spark import table as table_mod
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        table_mod._MANIFEST_CACHE.clear()
        spark.dataSource.register(PaimonDataSource)
        ids = t.snapshot_ids()
        for sid in ids:
            assert rows(t.to_df(snapshot_id=sid)) == self.EXPECT[sid]
            got = (spark.read.format("paimon").option("path", t.path)
                   .option("snapshot", sid).load())
            assert rows(got) == self.EXPECT[sid]
        got = t.changelog_df().select("__seq", "k", "v", "__row_kind")
        assert rows(got) == [r for r in self.CHANGELOG if r[0] in ids]

    @staticmethod
    def _remove_orphans(t):
        return t.remove_orphan_files(
            older_than_ms=int(time.time() * 1000) + 10_000
        )

    def test_every_step_is_covered(self, spark, template, tmp_path, monkeypatch):
        t = self._copy(spark, template, tmp_path)
        with monkeypatch.context() as m:
            calls = self._crash_at(m, 0)
            assert t.expire_snapshots(keep_last=1) == [1, 2, 3, 4]
        assert len(calls) == _EXPIRE_STEPS
        t = self._copy(spark, template, tmp_path / "rollback")
        with monkeypatch.context() as m:
            calls = self._crash_at(m, 0, self._is_snapshot)
            t.rollback_to(2)
        assert len(calls) == _ROLLBACK_STEPS

    @pytest.mark.parametrize("k", range(1, _EXPIRE_STEPS + 1))
    def test_expire_crash(self, spark, template, tmp_path, monkeypatch, k):
        t = self._copy(spark, template, tmp_path)
        with monkeypatch.context() as m:
            self._crash_at(m, k)
            with pytest.raises(OSError, match="injected"):
                t.expire_snapshots(keep_last=1)
        assert t.snapshot_ids()[-1] == 5
        self._remove_orphans(t)
        self._assert_whole(spark, t)
        t.expire_snapshots(keep_last=1)
        assert t.snapshot_ids() == [5]
        self._remove_orphans(t)
        assert rows(t.to_df()) == self.EXPECT[5]

    @pytest.mark.parametrize("k", range(1, _ROLLBACK_STEPS + 1))
    def test_rollback_crash(self, spark, template, tmp_path, monkeypatch, k):
        t = self._copy(spark, template, tmp_path)
        with monkeypatch.context() as m:
            self._crash_at(m, k, self._is_snapshot)
            with pytest.raises(OSError, match="injected"):
                t.rollback_to(2)
        # newest first: each unlink before the crash shortened the history
        assert t.snapshot_ids() == list(range(1, 7 - k))
        self._remove_orphans(t)
        self._assert_whole(spark, t)
        t.rollback_to(2)
        assert t.snapshot_ids() == [1, 2]
        assert self._remove_orphans(t)
        assert rows(t.to_df()) == self.EXPECT[2]


class TestScanBuildRunsNoJobs:
    """Building a scan's DataFrame is metadata-only: each file loads with
    the physical schema of its writer schema and as the manifest's
    explicit file list, so ``to_df()`` runs no Spark job — neither
    schema inference nor a parallel listing job, even past Spark's
    default 32-path listing threshold."""

    @pytest.fixture(autouse=True)
    def _engine_listing_threshold(self, spark):
        # the suite's session is not built by session.get_spark; give it
        # the engine's listing threshold for these tests only
        from paimon_presto_spark.session import _DEFAULTS

        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = spark.conf.get(key)
        spark.conf.set(key, _DEFAULTS[key])
        yield
        spark.conf.set(key, prev)

    def test_primary_key_table_past_listing_threshold(self, spark, catalog):
        t = catalog.create_table(
            "default", "nojob_pk", "k int, v string", primary_keys=["k"],
            options={"bucket": "1"},
        )
        t.upsert(spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "k int, v string"
        ).repartition(40))
        t.upsert(spark.createDataFrame(
            [(i, "new") for i in range(0, 200, 10)], "k int, v string"))
        t.delete(spark.createDataFrame([(5, "")], "k int, v string"))
        assert len(t.manifest_entries()) > 32
        df, jobs = spark_jobs(spark, t.to_df)
        assert jobs == 0
        expect = {i: ("new" if i % 10 == 0 else f"v{i}")
                  for i in range(200) if i != 5}
        assert {r["k"]: r["v"] for r in df.collect()} == expect

    def test_char_varchar_time_and_nested_varchar(self, spark, catalog):
        t = catalog.create_table(
            "default", "nojob_types",
            "k int, c char(3), vc varchar(5), t time, tags array<varchar(4)>",
        )
        t.append(spark.createDataFrame(
            [(1, "ab", "hello", 3_600_000_000, ["x", "yz"]),
             (2, None, "", 0, [])],
            "k int, c string, vc string, t long, tags array<string>",
        ))
        df, jobs = spark_jobs(spark, t.to_df)
        assert jobs == 0
        assert rows(df) == [
            (1, "ab ", "hello", 3_600_000_000, ["x", "yz"]),
            (2, None, "", 0, []),
        ]

    def test_deletion_vector_table(self, spark, catalog):
        t = catalog.create_table(
            "default", "nojob_dv", "k int, v string", primary_keys=["k"],
            options={"deletion-vectors.enabled": "true", "bucket": "2"},
        )
        t.upsert(spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"))
        t.upsert(spark.createDataFrame([(3, "new")], "k int, v string"))
        t.delete(spark.createDataFrame([(7, "")], "k int, v string"))
        assert t.snapshot().dv_index
        df, jobs = spark_jobs(spark, t.to_df)
        assert jobs == 0
        expect = {i: f"v{i}" for i in range(10) if i != 7} | {3: "new"}
        assert {r["k"]: r["v"] for r in df.collect()} == expect

    def test_after_add_and_rename_column(self, spark, catalog):
        t = catalog.create_table("default", "nojob_ev", "k int, s string")
        t.append(spark.createDataFrame([(1, "a")], "k int, s string"))
        catalog.add_column("default", "nojob_ev", "z", "varchar(3)")
        t.append(spark.createDataFrame(
            [(2, "b", "zz")], "k int, s string, z string"))
        catalog.rename_column("default", "nojob_ev", "s", "g")
        t = catalog.get_table("default", "nojob_ev")
        df, jobs = spark_jobs(spark, t.to_df)
        assert jobs == 0
        assert df.columns == ["k", "g", "z"]
        assert rows(df) == [(1, "a", None), (2, "b", "zz")]

    def test_dynamic_bucket_index(self, spark, catalog):
        t = catalog.create_table(
            "default", "nojob_dyn", "k int, v string", primary_keys=["k"],
            options={"bucket": "-1", "dynamic-bucket.target-row-num": "4"},
        )
        t.upsert(spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"))
        idx, jobs = spark_jobs(spark, t.bucket_index_df)
        assert jobs == 0
        assert idx.schema.simpleString() == "struct<kh:bigint,bucket:int>"
        assert idx.count() == 10
        assert {r["bucket"] for r in idx.collect()} <= {0, 1, 2}


class TestAutoExpiry:
    def test_num_retained_max(self, spark, catalog):
        t = catalog.create_table(
            "default", "ae1", "k int", primary_keys=["k"],
            options={"snapshot.num-retained.max": "3"},
        )
        for i in range(6):
            t.upsert(spark.createDataFrame([(i,)], "k int"))
        assert t.snapshot_ids() == [4, 5, 6]
        assert t.to_df().count() == 6  # data intact, history trimmed

    def test_time_retained_keeps_min(self, spark, catalog):
        import time as _time

        t = catalog.create_table(
            "default", "ae2", "k int", primary_keys=["k"],
            options={"snapshot.time-retained": "1 ms",
                     "snapshot.num-retained.min": "2"},
        )
        for i in range(4):
            t.upsert(spark.createDataFrame([(i,)], "k int"))
            _time.sleep(0.01)
        # everything is older than 1ms except what min protects
        assert t.snapshot_ids() == [3, 4]

    def test_consumers_still_pin_under_auto_expiry(self, spark, catalog):
        t = catalog.create_table(
            "default", "ae3", "k int", primary_keys=["k"],
            options={"snapshot.num-retained.max": "2"},
        )
        t.upsert(spark.createDataFrame([(1,)], "k int"))
        t.register_consumer("lag", 1)
        for i in range(2, 6):
            t.upsert(spark.createDataFrame([(i,)], "k int"))
        assert 1 in t.snapshot_ids()  # the lagging consumer pins history
        t.drop_consumer("lag")
        t.upsert(spark.createDataFrame([(9,)], "k int"))
        assert t.snapshot_ids()[0] > 1

    def test_datasource_writes_apply_retention_and_auto_tags(
        self, spark, catalog
    ):
        """Commits through ``df.write.format("paimon")`` run the same
        per-commit retention and auto-tagging as Table-API commits."""
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        spark.dataSource.register(PaimonDataSource)
        t = catalog.create_table(
            "default", "ae4", "k int",
            options={"snapshot.num-retained.max": "3",
                     "tag.automatic-creation": "process-time"},
        )
        for i in range(5):
            spark.createDataFrame([(i,)], "k int").write.format("paimon").option(
                "path", t.path).mode("append").save()
        assert t.snapshot_ids() == [3, 4, 5]
        assert rows(t.to_df()) == [(i,) for i in range(5)]
        assert t.list_tags()  # the period's first commit pinned a tag


class TestCharPadding:
    def test_char_pads_on_write_both_paths(self, spark, catalog):
        """CHAR(4) values are blank-padded at write time (SURVEY §7 risk 4)
        on the DataFrame path AND the DataSource path, so padded-width
        comparisons behave like the reference's CHAR semantics."""
        t = catalog.create_table("default", "chr1", "k int, code char(4)")
        t.append(spark.createDataFrame([(1, "ab"), (2, "wxyz")],
                                       "k int, code string"))
        got = {r["k"]: r["code"] for r in t.to_df().collect()}
        assert got == {1: "ab  ", 2: "wxyz"}
        assert t.to_df().filter("code = 'ab  '").count() == 1
        assert t.to_df().filter("rtrim(code) = 'ab'").count() == 1

        from paimon_presto_spark.sources.datasource import PaimonDataSource
        spark.dataSource.register(PaimonDataSource)
        spark.createDataFrame([(3, "z")], "k int, code string").write.format(
            "paimon").option("path", t.path).mode("append").save()
        got = {r["k"]: r["code"] for r in t.to_df().collect()}
        assert got[3] == "z   "

    def test_char_null_stays_null(self, spark, catalog):
        t = catalog.create_table("default", "chr2", "k int, code char(3)")
        t.append(spark.createDataFrame([(1, None)], "k int, code string"))
        assert t.to_df().collect()[0]["code"] is None


class TestTimeType:
    def test_time_micros_roundtrip_and_filter(self, spark, catalog):
        """TIME maps to micros-since-midnight LongType (SURVEY §7.1; the
        reference bridges Paimon TIME micros to Presto millis,
        PrestoTypeUtils.java:127-128 / PrestoPageSourceBase.java:228-229 —
        we keep micros end-to-end). The declared 'time' string survives in
        table metadata; values read/filter as plain longs."""
        t = catalog.create_table("default", "time1", "k int, t_of_day time")
        assert [f["type"] for f in t.schema().fields] == ["int", "time"]
        assert t.schema().spark_schema()["t_of_day"].dataType.typeName() == "long"

        noon = 12 * 3600 * 1_000_000  # 12:00:00 in micros-since-midnight
        half = 12 * 3600 * 1_000_000 + 30 * 60 * 1_000_000  # 12:30:00
        t.append(
            spark.createDataFrame(
                [(1, noon), (2, half), (3, 0)], "k int, t_of_day long"
            )
        )
        got = {r["k"]: r["t_of_day"] for r in t.to_df().collect()}
        assert got == {1: noon, 2: half, 3: 0}
        # range filter over time-of-day is a plain long comparison
        assert t.to_df().filter(F.col("t_of_day") >= noon).count() == 2
        # reference semantics: presto TIME millis = micros DIV 1000
        millis = {
            r["k"]: r["ms"]
            for r in t.to_df()
            .selectExpr("k", "t_of_day div 1000 AS ms")
            .collect()
        }
        assert millis[2] == 45_000_000  # 12:30:00.000

    def test_time_on_datasource_paths(self, spark, catalog):
        """The Python DataSource renders TIME as bigint in its Spark schema
        and int64 in Arrow, so both read and write paths round-trip the
        micros convention."""
        t = catalog.create_table("default", "time3", "k int, t_of_day time")
        t.append(spark.createDataFrame([(1, 3_600_000_000)], "k int, t_of_day long"))
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        spark.dataSource.register(PaimonDataSource)
        df = spark.read.format("paimon").option("path", t.path).load()
        assert dict(df.dtypes)["t_of_day"] == "bigint"
        assert df.collect()[0]["t_of_day"] == 3_600_000_000
        spark.createDataFrame([(2, 7_200_000_000)], "k int, t_of_day long").write.format(
            "paimon").option("path", t.path).mode("append").save()
        got = {r["k"]: r["t_of_day"] for r in t.to_df().collect()}
        assert got == {1: 3_600_000_000, 2: 7_200_000_000}

    def test_time_precision_variants_and_nested_rejected(self, spark, catalog):
        t = catalog.create_table("default", "time2", "k int, t0 time(0), t9 TIME(9)")
        assert [f["type"] for f in t.schema().fields] == ["int", "time", "time"]
        from paimon_presto_spark.table import split_ddl_fields

        assert split_ddl_fields("a int, b struct<x:int,y:string>, `c d` time") == [
            ("a", "int"),
            ("b", "struct<x:int,y:string>"),
            ("c d", "time"),
        ]


class TestVarcharBounds:
    def test_varchar_bound_is_enforced_on_write(self, spark, catalog):
        """VARCHAR(n) preserves its bound (PrestoSqlTypeUtils.java:96-101).
        Spark's varchar cast is a silent passthrough, so the engine
        enforces the bound at write time — ANSI insert semantics (error,
        not truncation); in-bound values roundtrip unpadded."""
        t = catalog.create_table("default", "vch1", "k int, name varchar(5)")
        assert [f["type"] for f in t.schema().fields][1] == "varchar(5)"
        t.append(spark.createDataFrame([(1, "abc"), (2, "exact")],
                                       "k int, name string"))
        got = {r["k"]: r["name"] for r in t.to_df().collect()}
        assert got == {1: "abc", 2: "exact"}  # no padding, unlike CHAR

        with pytest.raises(Exception) as exc:
            t.append(spark.createDataFrame([(3, "toolong")], "k int, name string"))
        assert "varchar(5)" in str(exc.value)
        # failed append must not have committed partial data
        assert t.to_df().count() == 2

    def test_varchar_null_and_comparison_semantics(self, spark, catalog):
        t = catalog.create_table("default", "vch2", "k int, name varchar(4)")
        t.append(spark.createDataFrame([(1, None), (2, "ab")],
                                       "k int, name string"))
        rows = {r["k"]: r["name"] for r in t.to_df().collect()}
        assert rows == {1: None, 2: "ab"}
        # unlike CHAR, varchar comparisons are unpadded string equality
        assert t.to_df().filter("name = 'ab'").count() == 1
        assert t.to_df().filter("name = 'ab  '").count() == 0

    def test_not_null_survives_string_ddl(self, spark, catalog):
        """The custom DDL parser (needed for TIME) must preserve NOT NULL
        like StructType.fromDDL did."""
        t = catalog.create_table(
            "default", "vchnn", "id bigint NOT NULL, name string, t time not null"
        )
        fields = {f["name"]: f for f in t.schema().fields}
        assert fields["id"]["nullable"] is False
        assert fields["name"]["nullable"] is True
        assert fields["t"]["nullable"] is False and fields["t"]["type"] == "time"
        ss = t.schema().spark_schema()
        assert ss["id"].nullable is False and ss["name"].nullable is True

    def test_preexisting_overlength_varchar_stays_readable(self, spark, catalog):
        """The varchar bound is a WRITE-side constraint: data written before
        the bound existed (or by a foreign writer) must stay readable on
        BOTH read paths rather than bricking the table."""
        import json as _json
        import os as _os

        t = catalog.create_table("default", "vch4", "k int, name string")
        t.append(spark.createDataFrame([(1, "toolong")], "k int, name string"))
        # retroactively tighten the declared type, simulating legacy data
        sp = _os.path.join(t.path, "schema", "schema-0.json")
        d = _json.load(open(sp))
        d["fields"][1]["type"] = "varchar(3)"
        _json.dump(d, open(sp, "w"))
        t2 = catalog.get_table("default", "vch4")
        assert t2.to_df().collect()[0]["name"] == "toolong"
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        spark.dataSource.register(PaimonDataSource)
        df = spark.read.format("paimon").option("path", t2.path).load()
        assert df.collect()[0]["name"] == "toolong"
        # ... and compaction (a rewrite of rows already in the table) must
        # not enforce the bound either — otherwise legacy data can never
        # be compacted again
        t2.compact()
        t3 = catalog.get_table("default", "vch4")
        assert t3.to_df().collect()[0]["name"] == "toolong"
        # genuinely NEW rows still hit the ANSI error
        with pytest.raises(Exception, match="too long|exceeds"):
            t3.append(spark.createDataFrame(
                [(2, "alsotoolong")], "k int, name string"))

    def test_varchar_bound_on_datasource_write_path(self, spark, catalog):
        t = catalog.create_table("default", "vch3", "k int, name varchar(3)")
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        spark.dataSource.register(PaimonDataSource)
        spark.createDataFrame([(1, "ok")], "k int, name string").write.format(
            "paimon").option("path", t.path).mode("append").save()
        assert t.to_df().collect()[0]["name"] == "ok"
        with pytest.raises(Exception) as exc:
            spark.createDataFrame([(2, "long")], "k int, name string").write.format(
                "paimon").option("path", t.path).mode("append").save()
        assert "varchar(3)" in str(exc.value)


class TestTimestampZones:
    def test_ltz_follows_session_ntz_does_not(self, spark, catalog):
        """SURVEY §7 risk 2 (TestPrestoITCase.java:465-479 UTC vs
        Pacific/Apia): TIMESTAMP (LTZ) renders in the session zone, the
        instant unchanged; TIMESTAMP_NTZ is zone-blind wall time."""
        t = catalog.create_table("default", "tsz", "k int, ltz timestamp, ntz timestamp_ntz")
        t.append(spark.sql(
            "SELECT 1 k, TIMESTAMP '2024-03-01 12:00:00' ltz, "
            "TIMESTAMP_NTZ '2024-03-01 12:00:00' ntz"))
        try:
            spark.conf.set("spark.sql.session.timeZone", "Pacific/Apia")
            got = t.to_df().selectExpr(
                "date_format(ltz, 'yyyy-MM-dd HH:mm') AS r_ltz",
                "date_format(ntz, 'yyyy-MM-dd HH:mm') AS r_ntz",
                "unix_timestamp(ltz) AS epoch",
            ).collect()[0]
            # +13/+14h zone: the LTZ instant renders next-day local time
            assert got["r_ltz"] == "2024-03-02 01:00"
            assert got["r_ntz"] == "2024-03-01 12:00"
            assert got["epoch"] == 1709294400  # instant is zone-invariant
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        # DataSource read agrees under UTC
        from paimon_presto_spark.sources.datasource import PaimonDataSource
        spark.dataSource.register(PaimonDataSource)
        r = (spark.read.format("paimon").option("path", t.path).load()
             .selectExpr("date_format(ltz, 'HH:mm') h", "date_format(ntz, 'HH:mm') n")
             .collect()[0])
        assert (r["h"], r["n"]) == ("12:00", "12:00")


class TestBucketCompaction:
    def test_compact_buckets_rewrites_only_hot_groups(self, spark, catalog):
        t = catalog.create_table(
            "default", "bc1", "k int, v string", primary_keys=["k"],
            options={"bucket": "2"},
        )
        ddl = "k int, v string"
        # find keys landing in different buckets
        from paimon_presto_spark.functions.xxhash import spark_bucket
        keys = {spark_bucket(2, [(i, "int")]): i for i in range(20)}
        hot_k, cold_k = keys[0], keys[1]
        t.upsert(spark.createDataFrame([(cold_k, "c")], ddl))
        for i in range(4):
            t.upsert(spark.createDataFrame([(hot_k, f"h{i}")], ddl))
        before = {e["path"]: e["bucket"] for e in t.manifest_entries()}
        cold_files = [p for p, b in before.items() if b == spark_bucket(2, [(cold_k, "int")])]

        snap = t.compact_buckets(min_files=3)
        assert snap is not None and snap.commit_kind == "COMPACT"
        after = {e["path"]: e["bucket"] for e in t.manifest_entries()}
        # cold bucket files untouched byte-for-byte
        for p in cold_files:
            assert p in after
        # hot bucket collapsed to one file
        hot_b = spark_bucket(2, [(hot_k, "int")])
        assert sum(1 for b in after.values() if b == hot_b) == 1
        got = {r["k"]: r["v"] for r in t.to_df().collect()}
        assert got == {hot_k: "h3", cold_k: "c"}
        # nothing hot anymore: no-op returns None
        assert t.compact_buckets(min_files=3) is None

    def test_auto_compaction_trigger_on_upsert(self, spark, catalog):
        t = catalog.create_table(
            "default", "bc2", "k int, v string", primary_keys=["k"],
            options={"bucket": "1", "num-sorted-run.compaction-trigger": "3"},
        )
        ddl = "k int, v string"
        for i in range(3):
            t.upsert(spark.createDataFrame([(1, f"v{i}")], ddl))
        kinds = [t.snapshot(s).commit_kind for s in t.snapshot_ids()]
        assert "COMPACT" in kinds  # the third upsert crossed the trigger
        assert len(t.manifest_entries()) == 1
        assert {r["v"] for r in t.to_df().collect()} == {"v2"}
        # compaction stays invisible to incremental consumers
        inc = t.incremental_df(0)
        assert inc.filter("rowkind = '+I'").count() == 3

    def test_auto_compaction_on_append_tables(self, spark, catalog):
        t = catalog.create_table(
            "default", "bc3", "k int, pt string", partition_keys=["pt"],
            options={"num-sorted-run.compaction-trigger": "3"},
        )
        for i in range(3):
            t.append(spark.createDataFrame([(i, "a")], "k int, pt string"))
        # partition 'a' crossed the trigger and collapsed to one file
        assert len(t.manifest_entries()) == 1
        assert t.to_df().count() == 3
        kinds = [t.snapshot(s).commit_kind for s in t.snapshot_ids()]
        assert kinds.count("COMPACT") == 1
        # the compacted file stores only the table's columns (`__bucket`
        # is a directory column of primary-key writes, not a data column)
        import pyarrow.parquet as pq

        names = [f["name"] for f in t.schema().fields]
        for e in t.manifest_entries():
            path = os.path.join(t.path, e["path"])
            assert pq.read_schema(path).names == names, e["path"]


class TestSplitDdlFieldsProperty:
    def test_split_matches_fromddl_on_spark_parsable_schemas(self, spark):
        """Property: for schemas Spark's own parser accepts, the custom
        splitter (needed for TIME) recovers exactly the same field names
        and types."""
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import types as T

        from paimon_presto_spark.table import _parse_type, split_ddl_fields

        simple_types = st.sampled_from(
            ["int", "bigint", "string", "double", "date", "decimal(10,2)",
             "array<int>", "map<string,bigint>", "struct<a:int,b:string>",
             "array<struct<x:int,y:array<double>>>", "varchar(7)", "char(3)"]
        )
        names = st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
        )
        fields = st.lists(
            st.tuples(names, simple_types), min_size=1, max_size=6,
            unique_by=lambda t: t[0],
        )

        @given(fields)
        @settings(max_examples=60, deadline=None)
        def check(fs):
            ddl = ", ".join(f"{n} {t}" for n, t in fs)
            expected = T.StructType.fromDDL(ddl)
            got = split_ddl_fields(ddl)
            assert [n for n, _ in got] == [f.name for f in expected.fields]
            for (_, typ), f in zip(got, expected.fields):
                assert _parse_type(typ) == f.dataType, (typ, f.dataType)

        check()

    def test_split_handles_backquotes_and_colons(self):
        from paimon_presto_spark.table import split_ddl_fields

        assert split_ddl_fields("`a b` int, c: string, d:bigint") == [
            ("a b", "int"), ("c", "string"), ("d", "bigint"),
        ]
        assert split_ddl_fields("t time, u TIME(3), v struct<t:int>") == [
            ("t", "time"), ("u", "TIME(3)"), ("v", "struct<t:int>"),
        ]


class TestSequenceField:
    """``sequence.field``: user-defined merge ordering — the row with the
    largest sequence value wins, commit order only breaking ties, so
    out-of-order ingestion (CDC replay, late partitions) can never regress
    a fresher row. Deletes compete too: a stale tombstone cannot remove a
    newer row. Mirrors Paimon's public sequence.field contract; the
    reference connector inherits it through Paimon core merge-on-read
    (PrestoPageSourceProvider.java:80-83)."""

    DDL = "k int, v string, ver bigint"

    def _mk(self, catalog, name, **opts):
        return catalog.create_table(
            "default", name, self.DDL, primary_keys=["k"],
            options={"sequence.field": "ver", **opts},
        )

    def test_out_of_order_upsert_loses(self, spark, catalog):
        t = self._mk(catalog, "sq1")
        t.upsert(spark.createDataFrame([(1, "new", 10), (2, "b", 5)], self.DDL))
        t.upsert(spark.createDataFrame([(1, "stale", 3), (2, "b2", 7)], self.DDL))
        assert rows(t.to_df()) == [(1, "new", 10), (2, "b2", 7)]

    def test_tie_breaks_by_commit_order(self, spark, catalog):
        t = self._mk(catalog, "sq2")
        t.upsert(spark.createDataFrame([(1, "first", 5)], self.DDL))
        t.upsert(spark.createDataFrame([(1, "second", 5)], self.DDL))
        assert rows(t.to_df()) == [(1, "second", 5)]

    def test_null_sequence_always_loses(self, spark, catalog):
        t = self._mk(catalog, "sq3")
        t.upsert(spark.createDataFrame([(1, "real", 1)], self.DDL))
        t.upsert(spark.createDataFrame([(1, "nullseq", None)], self.DDL))
        assert rows(t.to_df()) == [(1, "real", 1)]

    def test_stale_delete_does_not_remove(self, spark, catalog):
        t = self._mk(catalog, "sq4")
        t.upsert(spark.createDataFrame([(1, "keep", 10), (2, "drop", 10)], self.DDL))
        # tombstone with older sequence: key 1 survives
        t.delete(spark.createDataFrame([(1, None, 3)], self.DDL))
        # tombstone with newer sequence: key 2 removed
        t.delete(spark.createDataFrame([(2, None, 11)], self.DDL))
        assert rows(t.to_df()) == [(1, "keep", 10)]

    def test_within_batch_winner_by_sequence(self, spark, catalog):
        t = self._mk(catalog, "sq5")
        t.upsert(spark.createDataFrame(
            [(1, "low", 1), (1, "high", 9), (1, "mid", 5)], self.DDL))
        assert rows(t.to_df()) == [(1, "high", 9)]

    def test_multi_field_lexicographic(self, spark, catalog):
        t = catalog.create_table(
            "default", "sq6", "k int, v string, maj int, mnr int",
            primary_keys=["k"], options={"sequence.field": "maj,mnr"},
        )
        ddl = "k int, v string, maj int, mnr int"
        t.upsert(spark.createDataFrame([(1, "a", 2, 1)], ddl))
        t.upsert(spark.createDataFrame([(1, "b", 2, 0)], ddl))   # loses on mnr
        t.upsert(spark.createDataFrame([(1, "c", 1, 9)], ddl))   # loses on maj
        assert rows(t.to_df(), "v") == [("a",)]

    def test_compaction_preserves_ordering(self, spark, catalog):
        t = self._mk(catalog, "sq7")
        t.upsert(spark.createDataFrame([(1, "new", 10)], self.DDL))
        t.compact()
        t.upsert(spark.createDataFrame([(1, "stale", 2)], self.DDL))
        assert rows(t.to_df()) == [(1, "new", 10)]

    def test_partial_update_orders_by_sequence(self, spark, catalog):
        t = catalog.create_table(
            "default", "sq8", "k int, a string, b string, ver bigint",
            primary_keys=["k"],
            options={"merge-engine": "partial-update", "sequence.field": "ver"},
        )
        ddl = "k int, a string, b string, ver bigint"
        t.upsert(spark.createDataFrame([(1, "a9", None, 9)], ddl))
        # older patch: its non-null b seeds the row, but a must stay a9
        t.upsert(spark.createDataFrame([(1, "a3", "b3", 3)], ddl))
        assert rows(t.to_df()) == [(1, "a9", "b3", 9)]

    def test_rejected_combinations(self, spark, catalog):
        with pytest.raises(Exception) as e1:
            t = catalog.create_table(
                "default", "sq9", self.DDL, primary_keys=["k"],
                options={"sequence.field": "ver", "merge-engine": "first-row"},
            )
            t.upsert(spark.createDataFrame([(1, "x", 1)], self.DDL))
            t.to_df().collect()
        assert "sequence.field" in str(e1.value)
        with pytest.raises(ValueError, match="sequence.field"):
            t = catalog.create_table(
                "default", "sq10", self.DDL, primary_keys=["k"],
                options={"sequence.field": "ver",
                         "deletion-vectors.enabled": "true"},
            )
            t.upsert(spark.createDataFrame([(1, "x", 1)], self.DDL))
        with pytest.raises(ValueError, match="unknown column"):
            t = catalog.create_table(
                "default", "sq11", self.DDL, primary_keys=["k"],
                options={"sequence.field": "nope"},
            )
            t.upsert(spark.createDataFrame([(1, "x", 1)], self.DDL))
            t.to_df().collect()

    def test_lookup_changelog_skips_losing_writes(self, spark, catalog):
        t = self._mk(catalog, "sq12", **{"changelog-producer": "lookup"})
        t.upsert(spark.createDataFrame([(1, "v10", 10)], self.DDL))   # snap 1
        t.upsert(spark.createDataFrame([(1, "stale", 3)], self.DDL))  # snap 2: loses
        t.upsert(spark.createDataFrame([(1, "v20", 20)], self.DDL))   # snap 3: wins
        t.delete(spark.createDataFrame([(1, None, 5)], self.DDL))     # snap 4: loses
        t.delete(spark.createDataFrame([(1, None, 30)], self.DDL))    # snap 5: wins
        got = [
            (r["__seq"], r["__row_kind"], r["v"])
            for r in t.changelog_df().orderBy("__seq", "__row_kind").collect()
        ]
        assert got == [
            (1, "I", "v10"),
            (3, "UA", "v20"), (3, "UB", "v10"),
            (5, "D", "v20"),
        ]
        assert t.to_df().count() == 0

    def test_datasource_bucket_merge_honors_sequence(self, spark, catalog):
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        try:
            spark.dataSource.register(PaimonDataSource)
        except Exception:
            pass
        t = self._mk(catalog, "sq13", bucket="2")
        t.upsert(spark.createDataFrame(
            [(1, "new", 10), (2, "b", 5), (3, "c", 1)], self.DDL))
        t.upsert(spark.createDataFrame(
            [(1, "stale", 3), (2, "b2", 7), (3, "c2", None)], self.DDL))
        got = rows(spark.read.format("paimon").option("path", t.path).load())
        assert got == [(1, "new", 10), (2, "b2", 7), (3, "c", 1)]


class TestRowkindField:
    """``rowkind.field``: a column of the input carries each row's kind, so
    one atomic commit can mix inserts/updates and deletes — the shape a
    database CDC feed emits (Paimon's public rowkind.field contract)."""

    DDL = "k int, v string, rk string"

    def _mk(self, catalog, name, **opts):
        return catalog.create_table(
            "default", name, self.DDL, primary_keys=["k"],
            options={"rowkind.field": "rk", **opts},
        )

    def test_mixed_batch_single_commit(self, spark, catalog):
        t = self._mk(catalog, "rk1")
        t.upsert(spark.createDataFrame(
            [(1, "a", "+I"), (2, "b", "+I"), (3, "c", "+I")], self.DDL))
        assert t.snapshot().snapshot_id == 1
        t.upsert(spark.createDataFrame(
            [(1, "a2", "+U"), (2, None, "-D"), (4, "d", "+I")], self.DDL))
        assert t.snapshot().snapshot_id == 2  # one atomic commit
        assert rows(t.to_df(), "k", "v") == [(1, "a2"), (3, "c"), (4, "d")]

    def test_within_batch_key_collapses(self, spark, catalog):
        t = self._mk(catalog, "rk2")
        t.upsert(spark.createDataFrame(
            [(1, "x", "+I"), (1, None, "-D"),      # insert then delete: gone
             (2, None, "-D"), (2, "y", "+I")],     # delete then insert: kept
            self.DDL))
        assert rows(t.to_df(), "k", "v") == [(2, "y")]

    def test_lowercase_and_bare_kinds(self, spark, catalog):
        t = self._mk(catalog, "rk3")
        t.upsert(spark.createDataFrame(
            [(1, "a", "I"), (2, "b", "i")], self.DDL))
        t.upsert(spark.createDataFrame([(1, None, "d")], self.DDL))
        assert rows(t.to_df(), "k") == [(2,)]

    def test_retract_kind_deletes(self, spark, catalog):
        t = self._mk(catalog, "rk4")
        t.upsert(spark.createDataFrame([(1, "a", "+I")], self.DDL))
        t.upsert(spark.createDataFrame([(1, "a", "-U")], self.DDL))
        assert t.to_df().count() == 0

    def test_changelog_for_mixed_batch(self, spark, catalog):
        t = self._mk(catalog, "rk5", **{"changelog-producer": "lookup"})
        t.upsert(spark.createDataFrame(
            [(1, "a", "+I"), (2, "b", "+I")], self.DDL))
        t.upsert(spark.createDataFrame(
            [(1, "a2", "+U"), (2, None, "-D"), (3, "c", "+I")], self.DDL))
        got = sorted(
            (r["__seq"], r["__row_kind"], r["k"])
            for r in t.changelog_df().collect()
        )
        assert got == [
            (1, "I", 1), (1, "I", 2),
            (2, "D", 2), (2, "I", 3), (2, "UA", 1), (2, "UB", 1),
        ]

    def test_dynamic_bucket_tombstones_not_indexed(self, spark, catalog):
        t = self._mk(catalog, "rk6", bucket="-1",
                     **{"dynamic-bucket.target-row-num": "2"})
        t.upsert(spark.createDataFrame(
            [(1, "a", "+I"), (2, "b", "+I")], self.DDL))
        # mixed: update 1, delete 2, tombstone for never-seen 99
        t.upsert(spark.createDataFrame(
            [(1, "a2", "+U"), (2, None, "-D"), (99, None, "-D")], self.DDL))
        assert rows(t.to_df(), "k", "v") == [(1, "a2")]
        idx = t.bucket_index_df()
        assert idx.count() == 2  # keys 1 and 2 only; 99 never indexed

    def test_sequence_field_composes(self, spark, catalog):
        t = catalog.create_table(
            "default", "rk7", "k int, v string, ver bigint, rk string",
            primary_keys=["k"],
            options={"rowkind.field": "rk", "sequence.field": "ver"},
        )
        ddl = "k int, v string, ver bigint, rk string"
        t.upsert(spark.createDataFrame([(1, "new", 10, "+I")], ddl))
        # stale CDC delete: must NOT remove the fresher row
        t.upsert(spark.createDataFrame([(1, None, 3, "-D")], ddl))
        assert rows(t.to_df(), "k", "v") == [(1, "new")]
        # fresh delete wins
        t.upsert(spark.createDataFrame([(1, None, 20, "-D")], ddl))
        assert t.to_df().count() == 0

    def test_rejected_combinations(self, spark, catalog):
        with pytest.raises(ValueError, match="rowkind.field"):
            t = self._mk(catalog, "rk8",
                         **{"deletion-vectors.enabled": "true"})
            t.upsert(spark.createDataFrame([(1, "a", "+I")], self.DDL))
        with pytest.raises(ValueError, match="rowkind.field"):
            t = self._mk(catalog, "rk9", **{"merge-engine": "partial-update"})
            t.upsert(spark.createDataFrame([(1, "a", "+I")], self.DDL))
        with pytest.raises(ValueError, match="unknown column"):
            t = catalog.create_table(
                "default", "rk10", self.DDL, primary_keys=["k"],
                options={"rowkind.field": "nope"},
            )
            t.upsert(spark.createDataFrame([(1, "a", "+I")], self.DDL))


class TestBloomFileIndex:
    """``file-index.bloom-filter.columns``: per-file bloom filters answer
    point lookups on unsorted high-cardinality columns where min/max stats
    cannot skip anything (plans/fileindex.py)."""

    def test_point_lookup_skips_files(self, spark, catalog):
        t = catalog.create_table(
            "default", "bf1", "id int, tag string",
            options={"file-index.bloom-filter.columns": "tag"},
        )
        # two files with fully overlapping [min,max] on tag but disjoint
        # value sets: stats keep both, bloom must drop one
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(0, 100, 2)],
            "id int, tag string").coalesce(1))
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(1, 100, 2)],
            "id int, tag string").coalesce(1))
        sc = t.scan(predicate=P.eq("tag", "t014"))
        got = sc.to_df().collect()
        assert [(r["id"], r["tag"]) for r in got] == [(14, "t014")]
        assert sc.last_plan["total_files"] == 2
        assert sc.last_plan["after_stats_skip"] == 1  # bloom skipped one

    def test_no_false_negatives(self, spark, catalog):
        t = catalog.create_table(
            "default", "bf2", "id int, tag string",
            options={"file-index.bloom-filter.columns": "tag,id"},
        )
        for start in (0, 1, 2):
            t.append(spark.createDataFrame(
                [(i, f"v{i}") for i in range(start, 90, 3)], "id int, tag string"))
        for probe in (0, 13, 41, 88, 89):
            got = t.scan(predicate=P.eq("tag", f"v{probe}")).to_df().collect()
            assert [r["id"] for r in got] == [probe]
            got = t.scan(predicate=P.eq("id", probe)).to_df().collect()
            assert [r["tag"] for r in got] == [f"v{probe}"]

    def test_in_predicate_uses_bloom(self, spark, catalog):
        t = catalog.create_table(
            "default", "bf3", "id int, tag string",
            options={"file-index.bloom-filter.columns": "tag"},
        )
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(0, 100, 2)], "id int, tag string").coalesce(1))
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(1, 100, 2)], "id int, tag string").coalesce(1))
        sc = t.scan(predicate=P.in_("tag", ["t010", "t012"]))  # both even-file
        assert {r["id"] for r in sc.to_df().collect()} == {10, 12}
        assert sc.last_plan["after_stats_skip"] == 1

    def test_pk_table_bloom_on_key_only(self, spark, catalog):
        t = catalog.create_table(
            "default", "bf4", "k int, v string", primary_keys=["k"],
            options={"file-index.bloom-filter.columns": "k,v",
                     "bucket": "1"},
        )
        t.upsert(spark.createDataFrame([(1, "x"), (2, "b")], "k int, v string"))
        t.upsert(spark.createDataFrame([(1, "y")], "k int, v string"))
        # value-column probe: merge-on-read safety keeps ALL files — the
        # stale (1,'x') version must not resurrect
        assert t.scan(predicate=P.eq("v", "x")).to_df().collect() == []
        # pk probe: bloom may skip the second file for k=2
        sc = t.scan(predicate=P.eq("k", 2))
        assert [(r["k"], r["v"]) for r in sc.to_df().collect()] == [(2, "b")]
        assert sc.last_plan["after_stats_skip"] == 1

    def test_datasource_read_uses_bloom(self, spark, catalog):
        from paimon_presto_spark.sources.datasource import PaimonDataSource

        try:
            spark.dataSource.register(PaimonDataSource)
        except Exception:
            pass
        t = catalog.create_table(
            "default", "bf5", "id int, tag string",
            options={"file-index.bloom-filter.columns": "tag"},
        )
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(0, 100, 2)], "id int, tag string").coalesce(1))
        t.append(spark.createDataFrame(
            [(i, f"t{i:03d}") for i in range(1, 100, 2)], "id int, tag string").coalesce(1))
        df = (
            spark.read.format("paimon").option("path", t.path).load()
            .filter(F.col("tag") == "t014")
        )
        assert [(r["id"], r["tag"]) for r in df.collect()] == [(14, "t014")]

    def test_unknown_index_column_rejected(self, spark, catalog):
        t = catalog.create_table(
            "default", "bf6", "id int",
            options={"file-index.bloom-filter.columns": "nope"},
        )
        with pytest.raises(ValueError, match="unknown"):
            t.append(spark.createDataFrame([(1,)], "id int"))

    def test_bloom_unit_properties(self):
        import random

        from paimon_presto_spark.plans.fileindex import build_bloom, might_contain

        rng = random.Random(7)
        present = [rng.randrange(10**12) for _ in range(500)]
        bloom = build_bloom(present)
        assert all(might_contain(bloom, v) for v in present)  # never lies
        absent = [rng.randrange(10**12) for _ in range(2000)]
        fp = sum(might_contain(bloom, v) for v in absent if v not in set(present))
        assert fp / 2000 < 0.05  # ~1% design fpp, generous bound
        # a type-mismatched literal is INCONCLUSIVE, never definitely-absent:
        # Spark compares under casts (col = 5 matches the string '5'), so
        # probing 'i:5' against a string column's keys would wrong-skip
        b2 = build_bloom(["1", None])
        assert might_contain(b2, "1") and might_contain(b2, 1)
        # a descriptor stripped of its type tag (pre-upgrade manifests) is
        # never trusted: every probe is inconclusive
        b3 = {k: v for k, v in b2.items() if k != "t"}
        assert might_contain(b3, "1") and might_contain(b3, "absent")
        assert build_bloom([None, None]) is None

    def test_legacy_untagged_bloom_retagged_from_schema(self):
        """A descriptor written before the ``t`` tag existed regains its
        skipping power at planning time: translate_entry_metadata derives
        the tag from the writer schema's declared type, so old indexes
        keep skipping without a rewrite. Unknown/float types stay
        untagged (conservative no-skip, never wrong-skip)."""
        from paimon_presto_spark.plans.fileindex import (
            build_bloom,
            might_contain,
            translate_entry_metadata,
        )

        legacy = {
            k: v for k, v in build_bloom([10, 20, 30]).items() if k != "t"
        }
        # untagged: inconclusive for every probe (no skip possible)
        assert might_contain(legacy, 999999)
        entry = {"stats": {}, "index": {"uid": legacy}}
        fields = [{"id": 0, "name": "uid", "type": "bigint"}]
        _, idx = translate_entry_metadata(entry, {0: "uid"}, fields)
        assert idx["uid"]["t"] == "i"
        assert might_contain(idx["uid"], 20)          # present: still found
        assert not might_contain(idx["uid"], 999999)  # absent: skips again
        # the stored descriptor is not mutated in place
        assert "t" not in legacy
        # a float column's descriptor stays untagged → stays conservative
        fields_f = [{"id": 0, "name": "uid", "type": "double"}]
        _, idx_f = translate_entry_metadata(entry, {0: "uid"}, fields_f)
        assert "t" not in idx_f["uid"]
        # varchar spellings normalize to the string prefix
        slegacy = {
            k: v for k, v in build_bloom(["a", "b"]).items() if k != "t"
        }
        entry_s = {"stats": {}, "index": {"name": slegacy}}
        fields_s = [{"id": 1, "name": "name", "type": "varchar(10)"}]
        _, idx_s = translate_entry_metadata(entry_s, {1: "name"}, fields_s)
        assert idx_s["name"]["t"] == "s"
        assert not might_contain(idx_s["name"], "absent-key")

    def test_bloom_big_int64_with_nulls_never_wrong_skips(self, spark, catalog):
        """Executor-side bloom build must key int64 values EXACTLY even
        when the column carries NULLs: Arrow→pandas floatifies nullable
        int64, and a value past 2^53 round-tripped through float64 comes
        back rounded — the canonical keys are built JVM-side to make this
        impossible. A snowflake-scale id must stay findable, and its
        float64-rounded neighbour must not alias it."""
        big = (1 << 60) + 12345  # not float64-representable
        t = catalog.create_table(
            "default", "bf_big", "id bigint, v string",
            options={"file-index.bloom-filter.columns": "id"},
        )
        t.append(spark.createDataFrame(
            [(big, "hit"), (None, "null-row"), (7, "small")],
            "id bigint, v string").coalesce(1))
        from paimon_presto_spark.plans.predicate import P

        got = [r["v"] for r in t.scan(
            predicate=P.eq("id", big)
        ).to_df().collect()]
        assert got == ["hit"]  # the exact key is in the filter
        # the filter still skips truly-absent keys (it is not degenerate)
        from paimon_presto_spark.plans.fileindex import might_contain
        entry = [e for e in t.manifest_entries() if e.get("index")][0]
        bloom = entry["index"]["id"]
        assert might_contain(bloom, big)
        assert might_contain(bloom, 7)
        absent = sum(might_contain(bloom, (1 << 59) + i) for i in range(50))
        assert absent <= 2  # ~1% fpp

    def test_schema_rename_degrades_index_to_no_skip(self, spark, catalog):
        """Renaming an indexed column must stay CORRECT: old files' blooms
        are keyed by the old name, so lookups by the new name find no
        index entry (no skip, no wrong skip); new writes index under the
        new name."""
        t = catalog.create_table(
            "default", "bf7", "id int, tag string",
            options={"file-index.bloom-filter.columns": "tag"},
        )
        t.append(spark.createDataFrame(
            [(i, f"t{i}") for i in range(0, 50, 2)],
            "id int, tag string").coalesce(1))
        catalog.rename_column("default", "bf7", "tag", "label")
        # option still names the old column: writes must fail loudly until
        # the option is updated, not silently stop indexing
        with pytest.raises(ValueError, match="unknown"):
            t.append(spark.createDataFrame(
                [(1, "x")], "id int, label string").coalesce(1))
        catalog.set_table_options(
            "default", "bf7", {"file-index.bloom-filter.columns": "label"})
        t.append(spark.createDataFrame(
            [(i, f"t{i}") for i in range(1, 50, 2)],
            "id int, label string").coalesce(1))
        # probe by the NEW name: old file has no 'label' bloom (kept), new
        # file skippable; every value still found
        for probe in (2, 31):
            sc = t.scan(predicate=P.eq("label", f"t{probe}"))
            assert [r["id"] for r in sc.to_df().collect()] == [probe]


class TestAlterTableOptions:
    """ALTER TABLE SET/RESET options: non-structural options are mutable
    (new schema version; old files keep their writer schema), the
    physical/merge contract is not."""

    def test_set_and_reset_roundtrip(self, spark, catalog):
        t = catalog.create_table("default", "ao1", "k int, v string")
        catalog.set_table_options(
            "default", "ao1",
            {"snapshot.num-retained.max": "5", "file.format": "orc"})
        s = t.schema()
        assert s.options["snapshot.num-retained.max"] == "5"
        # format switch affects NEW files only; old parquet keeps reading
        t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
        catalog.reset_table_options("default", "ao1", ["file.format"])
        t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
        assert rows(t.to_df()) == [(1, "a"), (2, "b")]

    def test_format_switch_mixes_files(self, spark, catalog):
        t = catalog.create_table("default", "ao2", "k int, v string")
        t.append(spark.createDataFrame([(1, "pq")], "k int, v string"))
        catalog.set_table_options("default", "ao2", {"file.format": "orc"})
        t.append(spark.createDataFrame([(2, "orc")], "k int, v string"))
        assert rows(t.to_df()) == [(1, "pq"), (2, "orc")]
        fmts = {e["path"].rsplit(".", 1)[1]
                for e in t.manifest_entries()}
        assert fmts == {"parquet", "orc"}

    def test_changelog_producer_enables_midstream(self, spark, catalog):
        t = catalog.create_table(
            "default", "ao3", "k int, v string", primary_keys=["k"])
        t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
        catalog.set_table_options(
            "default", "ao3", {"changelog-producer": "lookup"})
        t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))
        kinds = sorted(
            r["__row_kind"] for r in t.changelog_df().collect())
        assert kinds == ["UA", "UB"]  # only the post-enable commit

    def test_structural_options_rejected(self, spark, catalog):
        catalog.create_table(
            "default", "ao4", "k int, v string", primary_keys=["k"])
        for k, v in [("bucket", "4"), ("merge-engine", "first-row"),
                     ("sequence.field", "v"),
                     ("deletion-vectors.enabled", "true")]:
            with pytest.raises(ValueError, match="immutable"):
                catalog.set_table_options("default", "ao4", {k: v})
        with pytest.raises(ValueError, match="immutable"):
            catalog.reset_table_options("default", "ao4", ["merge-engine"])


class TestTagTimeRetention:
    def test_auto_tag_ttl_expires_only_auto_tags(self, spark, catalog):
        """tag.default-time-retained: auto tags past their TTL are dropped
        at the next commit; manual tags and fresh auto tags survive."""
        import json as _json

        t = catalog.create_table(
            "default", "ttl1", "k int, v string", primary_keys=["k"],
            options={"tag.automatic-creation": "process-time",
                     "tag.creation-period": "daily",
                     "tag.default-time-retained": "1 h"},
        )
        ddl = "k int, v string"
        t.upsert(spark.createDataFrame([(1, "a")], ddl))  # today's auto tag
        t.create_tag("release-1")  # manual
        # fabricate an auto tag from a PREVIOUS period, aged past the TTL
        today = [x for x in t.list_tags() if x != "release-1"][0]
        src = _json.load(open(t._tag_path(today)))
        src["tag_name"] = "2000-01-01"
        src["tag_create_ms"] -= 2 * 3600 * 1000
        _json.dump(src, open(t._tag_path("2000-01-01"), "w"))
        # age the MANUAL tag too — TTL must not touch it
        pm = t._tag_path("release-1")
        dm = _json.load(open(pm))
        dm["tag_create_ms"] -= 2 * 3600 * 1000
        _json.dump(dm, open(pm, "w"))
        t.upsert(spark.createDataFrame([(2, "b")], ddl))  # triggers pruning
        tags = t.list_tags()
        assert "release-1" in tags and today in tags
        assert "2000-01-01" not in tags


class TestCombiningEngineChangelog:
    """changelog-producer=lookup with partial-update / aggregation: the
    post-image re-merges the key's raw history plus the batch (state
    alone cannot be combined — count is not associative over its own
    output)."""

    def test_partial_update_changelog_patches(self, spark, catalog):
        t = catalog.create_table(
            "default", "cec1", "k int, a string, b string",
            primary_keys=["k"],
            options={"merge-engine": "partial-update",
                     "changelog-producer": "lookup"},
        )
        ddl = "k int, a string, b string"
        t.upsert(spark.createDataFrame([(1, "a1", None)], ddl))
        t.upsert(spark.createDataFrame([(1, None, "b2")], ddl))  # patch b
        rows = sorted(
            (r["__seq"], r["__row_kind"], r["a"], r["b"])
            for r in t.changelog_df().collect()
        )
        # snap1: I with (a1, null); snap2: UB old, UA patched (a1, b2)
        assert rows == [
            (1, "I", "a1", None),
            (2, "UA", "a1", "b2"), (2, "UB", "a1", None),
        ]

    def test_aggregation_count_changelog_is_exact(self, spark, catalog):
        t = catalog.create_table(
            "default", "cec2", "k int, total bigint, n bigint",
            primary_keys=["k"],
            options={"merge-engine": "aggregation",
                     "changelog-producer": "lookup",
                     "fields.total.aggregate-function": "sum",
                     "fields.n.aggregate-function": "count"},
        )
        ddl = "k int, total bigint, n bigint"
        t.upsert(spark.createDataFrame([(1, 10, 1), (1, 5, 1)], ddl))
        t.upsert(spark.createDataFrame([(1, 7, 1)], ddl))
        rows = sorted(
            (r["__seq"], r["__row_kind"], r["total"], r["n"])
            for r in t.changelog_df().collect()
        )
        # count must be 2 then 3 (rows observed), not 1 + 1 state-combines
        assert rows == [
            (1, "I", 15, 2),
            (2, "UA", 22, 3), (2, "UB", 15, 2),
        ]
        assert [(r["total"], r["n"]) for r in t.to_df().collect()] == [(22, 3)]

    def test_changelog_rebuild_equals_state(self, spark, catalog):
        t = catalog.create_table(
            "default", "cec3", "k int, total bigint", primary_keys=["k"],
            options={"merge-engine": "aggregation",
                     "changelog-producer": "lookup",
                     "fields.total.aggregate-function": "sum"},
        )
        ddl = "k int, total bigint"
        t.upsert(spark.createDataFrame([(1, 3), (2, 4)], ddl))
        t.upsert(spark.createDataFrame([(1, 2), (3, 9)], ddl))
        clg = t.changelog_df()
        applied = (
            clg.withColumn(
                "w", F.when(F.col("__row_kind").isin("I", "UA"), 1).otherwise(-1))
            .groupBy("k").agg(F.sum(F.col("w") * F.col("total")).alias("total"))
            .filter("total is not null")
        )
        got = {(r["k"], r["total"]) for r in applied.collect()}
        want = {(r["k"], r["total"]) for r in t.to_df().collect()}
        assert got == want == {(1, 5), (2, 4), (3, 9)}


def test_consumer_expiration_unpins_retention(spark, catalog):
    """consumer.expiration-time: a consumer whose progress file has gone
    stale is dropped at the next expire_snapshots, so a crashed reader
    cannot pin history forever; fresh consumers keep pinning."""
    import json as _json

    t = catalog.create_table(
        "default", "cexp", "k int", primary_keys=["k"],
        options={"consumer.expiration-time": "1 h"},
    )
    for i in range(5):
        t.upsert(spark.createDataFrame([(i,)], "k int"))
    t.register_consumer("stale", next_snapshot=1)
    t.register_consumer("fresh", next_snapshot=2)
    # age the stale consumer's heartbeat beyond the TTL
    p = t._consumer_path("stale")
    d = _json.load(open(p))
    d["update_ms"] -= 2 * 3600 * 1000
    _json.dump(d, open(p, "w"))
    expired = t.expire_snapshots(keep_last=1)
    # stale consumer dropped; fresh consumer (next=2) pins 2..5 → only 1 goes
    assert expired == [1]
    assert set(t.list_consumers()) == {"fresh"}


class TestMergeInto:
    """merge_into: MERGE INTO semantics in one atomic commit — matched
    rows update/delete (optionally conditioned on source AND stored
    values), unmatched rows insert, readers never see a half-applied
    merge."""

    DDL = "k int, v string, qty int"

    def _seed(self, spark, catalog, name, **opts):
        t = catalog.create_table(
            "default", name, self.DDL, primary_keys=["k"], options=opts or None)
        t.upsert(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], self.DDL))
        return t

    def test_update_and_insert(self, spark, catalog):
        t = self._seed(spark, catalog, "mi1")
        t.merge_into(spark.createDataFrame(
            [(2, "b2", 21), (9, "new", 99)], self.DDL))
        assert t.snapshot().snapshot_id == 2
        assert rows(t.to_df()) == [
            (1, "a", 10), (2, "b2", 21), (3, "c", 30), (9, "new", 99)]

    def test_matched_delete_with_condition_on_target(self, spark, catalog):
        t = self._seed(spark, catalog, "mi2")
        # delete matched rows whose STORED qty exceeds 15; others untouched
        t.merge_into(
            spark.createDataFrame([(1, None, None), (2, None, None),
                                   (8, "x", 8)], self.DDL),
            when_matched="delete",
            matched_condition="target.qty > 15",
        )
        assert rows(t.to_df()) == [(1, "a", 10), (3, "c", 30), (8, "x", 8)]

    def test_conditional_update_leaves_nonmatching_rows(self, spark, catalog):
        t = self._seed(spark, catalog, "mi3")
        # only update where the SOURCE qty is higher than stored
        t.merge_into(
            spark.createDataFrame([(1, "a9", 99), (2, "b0", 1)], self.DDL),
            matched_condition="qty > target.qty",
            when_not_matched="ignore",
        )
        assert rows(t.to_df()) == [
            (1, "a9", 99), (2, "b", 20), (3, "c", 30)]

    def test_matched_ignore_inserts_only(self, spark, catalog):
        t = self._seed(spark, catalog, "mi4")
        t.merge_into(
            spark.createDataFrame([(1, "clobber", 0), (7, "d", 7)], self.DDL),
            when_matched="ignore",
        )
        assert rows(t.to_df()) == [
            (1, "a", 10), (2, "b", 20), (3, "c", 30), (7, "d", 7)]

    def test_merge_into_empty_table_inserts(self, spark, catalog):
        t = catalog.create_table(
            "default", "mi5", self.DDL, primary_keys=["k"])
        t.merge_into(spark.createDataFrame([(1, "a", 1)], self.DDL))
        assert rows(t.to_df()) == [(1, "a", 1)]

    def test_merge_emits_mixed_changelog(self, spark, catalog):
        t = self._seed(spark, catalog, "mi6",
                       **{"changelog-producer": "lookup"})
        t.merge_into(
            spark.createDataFrame([(1, "a2", 11), (2, None, None),
                                   (7, "d", 7)], self.DDL),
            when_matched="delete",
            matched_condition="target.qty > 15",
            when_not_matched="insert",
        )
        # k=1 matched but qty 10 <= 15 → untouched (no changelog);
        # k=2 deleted; k=7 inserted
        got = sorted(
            (r["__seq"], r["__row_kind"], r["k"])
            for r in t.changelog_df(1).collect()
        )
        assert got == [(2, "D", 2), (2, "I", 7)]
        assert rows(t.to_df(), "k") == [(1,), (3,), (7,)]

    def test_merge_rejected_on_append_table(self, spark, catalog):
        t = catalog.create_table("default", "mi7", self.DDL)
        with pytest.raises(ValueError, match="primary-key"):
            t.merge_into(spark.createDataFrame([(1, "a", 1)], self.DDL))

    def test_partial_source_whole_row_update_rejected(self, spark, catalog):
        """A whole-row-replace MERGE from a partial source would silently
        NULL every unlisted stored column — must raise, pointing the
        caller at update_set (SQL MERGE / Paimon demand the same)."""
        t = self._seed(spark, catalog, "mi8")
        partial = spark.createDataFrame([(2, 99)], "k int, qty int")
        with pytest.raises(ValueError, match="update_set"):
            t.merge_into(partial)

    def test_partial_source_ok_with_update_set(self, spark, catalog):
        """The same partial source is fine with an explicit SET list:
        unlisted columns keep stored values; inserts pad NULL."""
        t = self._seed(spark, catalog, "mi9")
        partial = spark.createDataFrame([(2, 99), (7, 7)], "k int, qty int")
        t.merge_into(partial, update_set={"qty": "qty"})
        assert rows(t.to_df()) == [
            (1, "a", 10), (2, "b", 99), (3, "c", 30), (7, None, 7)]

    def test_partial_key_only_source_ok_for_delete(self, spark, catalog):
        """Key-only sources stay legal for the delete path (null-padding
        is sound there: only keys matter)."""
        t = self._seed(spark, catalog, "mi10")
        keys = spark.createDataFrame([(1,), (3,)], "k int")
        t.merge_into(keys, when_matched="delete", when_not_matched="ignore")
        assert rows(t.to_df(), "k") == [(2,)]

    def test_char_key_matches_stored_key(self, spark, catalog):
        """A CHAR key is stored blank-padded; the source's unpadded key
        must still match it, so a matched delete removes the row instead
        of inserting a second one."""
        t = catalog.create_table(
            "default", "mi11", "k char(3), v string", primary_keys=["k"])
        ddl = "k string, v string"
        t.upsert(spark.createDataFrame([("ab", "x")], ddl))
        t.merge_into(spark.createDataFrame([("ab", "y")], ddl),
                     when_matched="delete")
        assert rows(t.to_df()) == []
        t.merge_into(spark.createDataFrame([("cd", "z")], ddl))
        t.merge_into(spark.createDataFrame([("cd", "w")], ddl))
        assert rows(t.to_df()) == [("cd ", "w")]


def test_incremental_between_timestamps(spark, catalog):
    """Wall-clock incremental bounds resolve to the snapshots at-or-before
    each timestamp, then behave exactly like snapshot-id bounds."""
    import json as _json
    import os as _os

    t = catalog.create_table("default", "ibt", "k int", primary_keys=["k"])
    for i in range(3):
        t.upsert(spark.createDataFrame([(i,)], "k int"))
    # pin distinct commit timestamps: 1000ms, 2000ms, 3000ms
    for sid, ms in ((1, 1000), (2, 2000), (3, 3000)):
        p = _os.path.join(t.meta_path, "snapshot", f"snapshot-{sid}.json")
        d = _json.load(open(p))
        d["timestamp_ms"] = ms
        _json.dump(d, open(p, "w"))
    # bounds mid-window: start resolves to snap 1, end to snap 2 → change
    # rows of snapshot 2 only
    got = {r["k"] for r in t.incremental_between_timestamps(1500, 2500).collect()}
    assert got == {1}
    # open end: everything after snap 1
    got = {r["k"] for r in t.incremental_between_timestamps(1000).collect()}
    assert got == {1, 2}
    # start before history: all three commits
    got = {r["k"] for r in t.incremental_between_timestamps(0).collect()}
    assert got == {0, 1, 2}
    # start after the newest commit: empty
    assert t.incremental_between_timestamps(9999).count() == 0


def test_datasource_partial_update_honors_sequence(spark, catalog):
    """The pandas bucket merge must apply sequence.field to
    partial-update tables exactly like table._merge_on_read (sq8)."""
    from paimon_presto_spark.sources.datasource import PaimonDataSource

    try:
        spark.dataSource.register(PaimonDataSource)
    except Exception:
        pass
    t = catalog.create_table(
        "default", "sq14", "k int, a string, b string, ver bigint",
        primary_keys=["k"],
        options={"merge-engine": "partial-update", "sequence.field": "ver"},
    )
    ddl = "k int, a string, b string, ver bigint"
    t.upsert(spark.createDataFrame([(1, "a9", None, 9)], ddl))
    t.upsert(spark.createDataFrame([(1, "a3", "b3", 3)], ddl))
    got = rows(spark.read.format("paimon").option("path", t.path).load())
    assert got == [(1, "a9", "b3", 9)]
    assert got == rows(t.to_df())


def test_alter_rejects_field_merge_semantics(spark, catalog):
    """fields.<c>.aggregate-function / .sequence-group / .distinct are
    part of the merge contract: altering them would re-aggregate
    committed history under new rules."""
    t = catalog.create_table(
        "default", "ao5", "k int, total bigint", primary_keys=["k"],
        options={"merge-engine": "aggregation",
                 "fields.total.aggregate-function": "sum"},
    )
    # commit data: only committed columns are locked (uncommitted ones may
    # still pick their function — test_alter_allows_agg_function_on_new_column)
    t.upsert(spark.createDataFrame([(1, 5)], "k int, total bigint"))
    for key in ("fields.total.aggregate-function",
                "fields.total.sequence-group",
                "fields.total.distinct"):
        with pytest.raises(ValueError, match="immutable"):
            catalog.set_table_options("default", "ao5", {key: "x"})
        with pytest.raises(ValueError, match="immutable"):
            catalog.reset_table_options("default", "ao5", [key])


def test_bloom_index_survives_rename_chain(spark, catalog):
    """Rename chains can re-bind an indexed NAME to different data
    (a->b then c->a): a stale bloom keyed 'a' must not skip files for the
    new 'a' — filters apply only when writer and current field ids agree."""
    t = catalog.create_table(
        "default", "bfrc", "id int, a string, c string",
        options={"file-index.bloom-filter.columns": "a"},
    )
    # file F1: old 'a' holds x-values, 'c' holds y-values
    t.append(spark.createDataFrame(
        [(i, f"x{i}", f"y{i}") for i in range(20)],
        "id int, a string, c string").coalesce(1))
    catalog.rename_column("default", "bfrc", "a", "b")
    catalog.rename_column("default", "bfrc", "c", "a")
    catalog.set_table_options(
        "default", "bfrc", {"file-index.bloom-filter.columns": "a"})
    t.append(spark.createDataFrame(
        [(100, "zz", "aa")], "id int, b string, a string").coalesce(1))
    # probe the NEW 'a' (old c data) for a value only in F1: the stale
    # bloom keyed 'a' (built from x-values) would say absent — the
    # field-id check must keep F1 and find the row
    sc = t.scan(predicate=P.eq("a", "y7"))
    assert [r["id"] for r in sc.to_df().collect()] == [7]
    assert sc.last_plan["after_stats_skip"] >= 1


def test_alter_allows_agg_function_on_new_column(spark, catalog):
    """A column added after the last commit has no committed history —
    choosing its aggregate function must be allowed (by field id, so a
    rename of an OLD column cannot fake exemption)."""
    t = catalog.create_table(
        "default", "ao6", "k int, total bigint", primary_keys=["k"],
        options={"merge-engine": "aggregation",
                 "fields.total.aggregate-function": "sum"},
    )
    t.upsert(spark.createDataFrame([(1, 5)], "k int, total bigint"))
    catalog.add_column("default", "ao6", "bonus", "bigint")
    catalog.set_table_options(
        "default", "ao6", {"fields.bonus.aggregate-function": "max"})
    t.upsert(spark.createDataFrame(
        [(1, 2, 10), (1, 3, 7)], "k int, total bigint, bonus bigint"))
    got = t.to_df().collect()[0]
    assert (got["total"], got["bonus"]) == (10, 10)
    # the COMMITTED column stays locked
    with pytest.raises(ValueError, match="immutable"):
        catalog.set_table_options(
            "default", "ao6", {"fields.total.aggregate-function": "max"})
    # renaming a committed column does not unlock it
    catalog.rename_column("default", "ao6", "total", "total2")
    with pytest.raises(ValueError, match="immutable"):
        catalog.set_table_options(
            "default", "ao6", {"fields.total2.aggregate-function": "max"})


class TestMergeIntoUpdateSet:
    """merge_into(update_set=...): column-level WHEN MATCHED THEN UPDATE
    SET — only listed columns change, exprs see PRE-update values, and
    unlisted columns keep their stored values."""

    DDL = "k int, v string, qty int"

    def _seed(self, spark, catalog, name):
        t = catalog.create_table(
            "default", name, self.DDL, primary_keys=["k"])
        t.upsert(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], self.DDL))
        return t

    def test_partial_column_update(self, spark, catalog):
        t = self._seed(spark, catalog, "mu1")
        # only qty changes; v must KEEP its stored value even though the
        # source carries a different one
        t.merge_into(
            spark.createDataFrame([(1, "CLOBBER", 5)], self.DDL),
            update_set={"qty": "target.qty + qty"},
            when_not_matched="ignore",
        )
        assert rows(t.to_df()) == [(1, "a", 15), (2, "b", 20)]

    def test_exprs_see_pre_update_values(self, spark, catalog):
        t = self._seed(spark, catalog, "mu2")
        # v's expr reads target.qty; qty's expr also changes qty — both
        # must observe the PRE-update stored value (10), not each other
        t.merge_into(
            spark.createDataFrame([(1, None, 7)], self.DDL),
            update_set={
                "v": "concat('q=', cast(target.qty as string))",
                "qty": "target.qty * 2",
            },
            when_not_matched="ignore",
        )
        assert rows(t.to_df()) == [(1, "q=10", 20), (2, "b", 20)]

    def test_inserts_keep_source_values(self, spark, catalog):
        t = self._seed(spark, catalog, "mu3")
        t.merge_into(
            spark.createDataFrame([(1, "x", 1), (9, "new", 9)], self.DDL),
            update_set={"qty": "qty"},  # matched: qty from source, v stored
        )
        assert rows(t.to_df()) == [(1, "a", 1), (2, "b", 20), (9, "new", 9)]

    def test_condition_sees_pre_update_values(self, spark, catalog):
        t = self._seed(spark, catalog, "mu4")
        t.merge_into(
            spark.createDataFrame([(1, None, 100), (2, None, 1)], self.DDL),
            matched_condition="qty > target.qty",  # source vs stored
            update_set={"qty": "qty"},
            when_not_matched="ignore",
        )
        # k=1: 100 > 10 → updated; k=2: 1 > 20 false → untouched
        assert rows(t.to_df()) == [(1, "a", 100), (2, "b", 20)]

    def test_update_set_validation(self, spark, catalog):
        t = self._seed(spark, catalog, "mu5")
        with pytest.raises(ValueError, match="non-key"):
            t.merge_into(
                spark.createDataFrame([(1, "a", 1)], self.DDL),
                update_set={"k": "k + 1"},
            )
        with pytest.raises(ValueError, match="update_set requires"):
            t.merge_into(
                spark.createDataFrame([(1, "a", 1)], self.DDL),
                when_matched="delete", update_set={"qty": "qty"},
            )


class TestFastCount:
    """fast_count: exact COUNT(*) from manifest metadata (zero data I/O),
    refusing with None whenever metadata can't answer exactly."""

    def test_append_table_counts_from_metadata(self, spark, catalog):
        t = catalog.create_table(
            "default", "fc1", "k int, pt string", partition_keys=["pt"])
        t.append(spark.createDataFrame(
            [(i, f"p{i % 3}") for i in range(30)], "k int, pt string"))
        t.append(spark.createDataFrame([(99, "p0")], "k int, pt string"))
        assert t.fast_count() == 31
        from paimon_presto_spark.plans.predicate import P
        # partition-only predicate: whole-file exact
        assert t.fast_count(P.eq("pt", "p0")) == 11
        assert t.fast_count(P.in_("pt", ["p1", "p2"])) == 20
        # value-column predicate filters WITHIN files -> refuse
        assert t.fast_count(P.eq("k", 5)) is None
        # time travel
        assert t.fast_count(snapshot_id=1) == 30
        t.create_tag("v1", 1)
        assert t.fast_count(tag="v1") == 30
        # cross-check against the scan
        assert t.fast_count() == t.to_df().count()

    def test_refuses_pk_and_dv_tables(self, spark, catalog):
        pk = catalog.create_table(
            "default", "fc2", "k int, v int", primary_keys=["k"])
        pk.upsert(spark.createDataFrame([(1, 1), (1, 2)], "k int, v int"))
        assert pk.fast_count() is None  # merge-on-read collapses rows
        ap = catalog.create_table(
            "default", "fc3", "k int",
            options={"deletion-vectors.enabled": "true"})
        ap.append(spark.createDataFrame([(i,) for i in range(10)], "k int"))
        assert ap.fast_count() == 10
        ap.delete_where("k = 3")  # deletion vectors appear
        assert ap.fast_count() is None
        assert ap.to_df().count() == 9

    def test_empty_table(self, spark, catalog):
        t = catalog.create_table("default", "fc4", "k int")
        assert t.fast_count() == 0
