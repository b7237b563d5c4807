"""Co-located bucket join (``sources/colocated.py``): correctness vs the
declarative Spark join, null-extension under how="left", merge-on-read and
deletion-vector visibility inside the per-bucket join, plan shape (no join
node, no Exchange), and every driver-side validation rule."""

import pyspark.sql.functions as F
import pytest

from paimon_presto_spark.sources.colocated import colocated_join


def _mk_tables(catalog, spark, n=200, buckets=4):
    left = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("lval"),
        (F.col("id") % 5).cast("string").alias("grp"),
    )
    # right covers only even keys: odd keys are unmatched on the left side
    right = spark.range(0, n, 2).select(
        F.col("id").alias("k"),
        (F.col("id") + 100).alias("rval"),
    )
    tl = catalog.create_table(
        "default", "co_left", "k bigint, lval bigint, grp string",
        primary_keys=["k"], options={"bucket": str(buckets)},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "co_right", "k bigint, rval bigint",
        primary_keys=["k"], options={"bucket": str(buckets)},
    )
    tr.upsert(right)
    return tl, tr, left, right


def test_inner_matches_spark_join(catalog, spark):
    tl, tr, left, right = _mk_tables(catalog, spark)
    got = colocated_join(spark, tl, tr, left_on="k").orderBy("k")
    exp = left.join(right, "k", "inner").orderBy("k")
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in exp.select("k", "lval", "grp", "rval").collect()
    ]


def test_left_join_null_extends(catalog, spark):
    tl, tr, left, right = _mk_tables(catalog, spark)
    got = colocated_join(spark, tl, tr, left_on="k", how="left")
    assert got.count() == left.count()
    unmatched = got.filter(F.col("rval").isNull()).count()
    assert unmatched == left.count() - right.count()


def test_plan_has_no_join_or_exchange(catalog, spark):
    tl, tr, *_ = _mk_tables(catalog, spark)
    plan = (
        colocated_join(spark, tl, tr, left_on="k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchScan" in plan


def test_join_sees_upserts_and_deletes(catalog, spark):
    """The per-bucket read is the MERGED current version of both sides:
    an upsert overwrite and a delete on the right table must be exactly
    what the join observes."""
    tl, tr, left, right = _mk_tables(catalog, spark)
    tr.upsert(
        spark.range(0, 10, 2).select(
            F.col("id").alias("k"), F.lit(-1).alias("rval")
        )
    )
    tr.delete(spark.range(20, 30, 2).select(F.col("id").alias("k")))
    got = {r["k"]: r["rval"] for r in
           colocated_join(spark, tl, tr, left_on="k").collect()}
    assert got[0] == -1 and got[8] == -1          # patched rows
    assert 20 not in got and 28 not in got        # deleted rows
    assert got[30] == 130                          # untouched rows


def test_different_key_names(catalog, spark):
    left = spark.range(50).select(F.col("id").alias("a"))
    right = spark.range(50).select(
        F.col("id").alias("b"), F.lit(1).alias("x")
    )
    tl = catalog.create_table(
        "default", "kn_left", "a bigint", primary_keys=["a"],
        options={"bucket": "4"},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "kn_right", "b bigint, x int", primary_keys=["b"],
        options={"bucket": "4"},
    )
    tr.upsert(right)
    got = colocated_join(spark, tl, tr, left_on="a", right_on="b")
    assert got.count() == 50
    assert got.columns == ["a", "x"]  # right key dropped from output


def test_collision_suffix(catalog, spark):
    left = spark.range(10).select(F.col("id").alias("k"),
                                  F.lit(1).alias("v"))
    right = spark.range(10).select(F.col("id").alias("k"),
                                   F.lit(2).alias("v"))
    tl = catalog.create_table(
        "default", "cs_left", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "cs_right", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    tr.upsert(right)
    got = colocated_join(spark, tl, tr, left_on="k")
    assert got.columns == ["k", "v", "v_r"]
    row = got.filter(F.col("k") == 3).collect()[0]
    assert (row["v"], row["v_r"]) == (1, 2)


def _expect_reject(spark, tl, tr, match, **kw):
    with pytest.raises(Exception, match=match):
        colocated_join(spark, tl, tr, **kw).collect()


def test_validation_rules(catalog, spark):
    base = spark.range(20).select(F.col("id").alias("k"),
                                  F.lit(1).alias("v"))
    t4 = catalog.create_table(
        "default", "v_b4", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "4"},
    )
    t4.upsert(base)
    t8 = catalog.create_table(
        "default", "v_b8", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "8"},
    )
    t8.upsert(base)
    _expect_reject(spark, t4, t8, "bucket counts differ", left_on="k")

    tdyn = catalog.create_table(
        "default", "v_dyn", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "-1"},
    )
    tdyn.upsert(base)
    _expect_reject(spark, t4, tdyn, "dynamic bucketing", left_on="k")

    tapp = catalog.create_table("default", "v_app", "k bigint, v int")
    tapp.append(base)
    _expect_reject(spark, t4, tapp, "no primary key", left_on="k")

    # join key != pk
    _expect_reject(
        spark, t4, t8, "must be exactly the primary key",
        left_on="v", right_on="v",
    )

    tint = catalog.create_table(
        "default", "v_int", "k int, v int", primary_keys=["k"],
        options={"bucket": "4"},
    )
    tint.upsert(base.select(F.col("k").cast("int").alias("k"), "v"))
    _expect_reject(spark, t4, tint, "key type mismatch", left_on="k")


def test_empty_right_table(catalog, spark):
    left = spark.range(10).select(F.col("id").alias("k"))
    tl = catalog.create_table(
        "default", "e_left", "k bigint", primary_keys=["k"],
        options={"bucket": "2"},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "e_right", "k bigint, x int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    assert colocated_join(spark, tl, tr, left_on="k").count() == 0
    lj = colocated_join(spark, tl, tr, left_on="k", how="left")
    assert lj.count() == 10
    assert lj.filter(F.col("x").isNull()).count() == 10


def test_partitioned_aligned_join(catalog, spark):
    """Both sides partitioned by the same join-key column (under the
    left_on<->right_on renaming): splits pair per (partition, bucket) and
    the join is exact."""
    left = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        F.col("id").alias("k"),
        F.lit(1).alias("lv"),
    )
    right = spark.range(0, 100, 2).select(
        (F.col("id") % 4).cast("string").alias("g2"),
        F.col("id").alias("k2"),
        F.lit(2).alias("rv"),
    )
    tl = catalog.create_table(
        "default", "p_left", "grp string, k bigint, lv int",
        primary_keys=["grp", "k"], partition_keys=["grp"],
        options={"bucket": "2"},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "p_right", "g2 string, k2 bigint, rv int",
        primary_keys=["g2", "k2"], partition_keys=["g2"],
        options={"bucket": "2"},
    )
    tr.upsert(right)
    got = colocated_join(
        spark, tl, tr, left_on=["grp", "k"], right_on=["g2", "k2"]
    )
    assert got.count() == 50
    lj = colocated_join(
        spark, tl, tr, left_on=["grp", "k"], right_on=["g2", "k2"],
        how="left",
    )
    assert lj.count() == 100
    assert lj.filter(F.col("rv").isNull()).count() == 50


def test_partition_layout_mismatch_rejected(catalog, spark):
    """Partitioned x unpartitioned must raise, not silently misalign."""
    left = spark.range(20).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").alias("k"),
    )
    tl = catalog.create_table(
        "default", "pm_left", "grp string, k bigint",
        primary_keys=["grp", "k"], partition_keys=["grp"],
        options={"bucket": "2"},
    )
    tl.upsert(left)
    tr = catalog.create_table(
        "default", "pm_right", "grp string, k bigint, x int",
        primary_keys=["grp", "k"], options={"bucket": "2"},
    )
    tr.upsert(left.withColumn("x", F.lit(1)))
    _expect_reject(
        spark, tl, tr, "partition layouts differ", left_on=["grp", "k"]
    )


def test_nested_columns_rejected(catalog, spark):
    tl = catalog.create_table(
        "default", "n_left", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    tl.upsert(spark.range(5).select(F.col("id").alias("k"),
                                    F.lit(1).alias("v")))
    tr = catalog.create_table(
        "default", "n_right", "k bigint, arr array<int>",
        primary_keys=["k"], options={"bucket": "2"},
    )
    tr.upsert(
        spark.range(5).select(F.col("id").alias("k"),
                              F.array(F.lit(1)).alias("arr"))
    )
    _expect_reject(spark, tl, tr, "nested columns", left_on="k")


def test_time_travel_options(catalog, spark):
    """left_snapshot/right_snapshot pin each side; the declared schema and
    the emitted batches resolve through the SAME snapshot."""
    from paimon_presto_spark.sources.colocated import ColocatedJoinDataSource

    tl = catalog.create_table(
        "default", "tt_left", "k bigint, v int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    tl.upsert(spark.range(10).select(F.col("id").alias("k"),
                                     F.lit(1).alias("v")))
    tr = catalog.create_table(
        "default", "tt_right", "k bigint, x int", primary_keys=["k"],
        options={"bucket": "2"},
    )
    s1 = tr.upsert(
        spark.range(10).select(F.col("id").alias("k"), F.lit(7).alias("x"))
    )
    tr.upsert(
        spark.range(10).select(F.col("id").alias("k"), F.lit(9).alias("x"))
    )
    spark.dataSource.register(ColocatedJoinDataSource)
    pinned = (
        spark.read.format("paimon_colocated")
        .option("left", tl.path).option("right", tr.path)
        .option("left_on", "k").option("right_on", "k")
        .option("right_snapshot", str(s1.snapshot_id))
        .load()
    )
    assert {r["x"] for r in pinned.collect()} == {7}
    latest = colocated_join(spark, tl, tr, left_on="k")
    assert {r["x"] for r in latest.collect()} == {9}

    # schema evolution on the right side follows TableScan's render rule:
    # a current read renders the latest schema right after add_column (no
    # commit since), a snapshot read the schema it was committed under
    def right_rows(df):
        return sorted((r["k"], r["x"], r["y"] if "y" in df.columns else None)
                      for r in df.collect())

    catalog.add_column("default", "tt_right", "y", "int")
    tr = catalog.get_table("default", "tt_right")
    latest = colocated_join(spark, tl, tr, left_on="k")
    assert latest.columns == ["k", "v", "x", "y"]
    assert right_rows(latest) == right_rows(tr.scan().to_df())
    tr.upsert(spark.range(10).select(
        F.col("id").alias("k"), F.lit(9).alias("x"), F.lit(5).alias("y")))
    pinned = (
        spark.read.format("paimon_colocated")
        .option("left", tl.path).option("right", tr.path)
        .option("left_on", "k").option("right_on", "k")
        .option("right_snapshot", str(s1.snapshot_id))
        .load()
    )
    assert pinned.columns == ["k", "v", "x"]
    assert right_rows(pinned) == right_rows(
        tr.scan(snapshot_id=s1.snapshot_id).to_df())


def test_point_lookup_prunes_to_one_bucket(catalog, spark):
    """An equality on every join-key column pins the bucket: the scan
    plans ONE split (the pushFilters bucket prune), and the lookup is
    still exact."""
    tl, tr, left, right = _mk_tables(catalog, spark, n=200, buckets=4)
    q = colocated_join(spark, tl, tr, left_on="k").filter(F.col("k") == 42)
    rows = q.collect()
    assert [(r["k"], r["lval"], r["rval"]) for r in rows] == [(42, 84, 142)]
    # the filtered scan reads one input partition; unfiltered reads all 4
    assert q.rdd.getNumPartitions() == 1
    assert (
        colocated_join(spark, tl, tr, left_on="k").rdd.getNumPartitions()
        == 4
    )
    # a partial key pin (one of two pk columns) must NOT prune
    left2 = spark.range(40).select(
        (F.col("id") % 3).alias("a"), F.col("id").alias("b"),
        F.lit(1).alias("v"),
    )
    ta = catalog.create_table(
        "default", "pl_left", "a bigint, b bigint, v int",
        primary_keys=["a", "b"], options={"bucket": "4"},
    )
    ta.upsert(left2)
    tb = catalog.create_table(
        "default", "pl_right", "a bigint, b bigint, w int",
        primary_keys=["a", "b"], options={"bucket": "4"},
    )
    tb.upsert(left2.withColumnRenamed("v", "w"))
    partial = colocated_join(
        spark, ta, tb, left_on=["a", "b"]
    ).filter(F.col("a") == 1)
    assert partial.count() == 13  # ids 1,4,...,37
    full = colocated_join(
        spark, ta, tb, left_on=["a", "b"]
    ).filter((F.col("a") == 1) & (F.col("b") == 4))
    assert [(r["a"], r["b"]) for r in full.collect()] == [(1, 4)]
    assert full.rdd.getNumPartitions() == 1


def test_bucket_pin_survives_replanning(catalog, spark):
    """The pin set by pushFilters must survive REPEATED partitions()
    calls within one filtered planning (Spark may replan on retry or
    speculation): both calls plan the same single split. Round-10 fix —
    consuming the pin inside partitions() made the second call plan all
    N splits, flaking every pinned_splits==1 gate. The pin still resets
    per scan (pushFilters rebuilds it), so the round-9 leak — a pinned
    lookup bleeding its prune into a later full scan — stays fixed."""
    from pyspark.sql.datasource import EqualTo

    from paimon_presto_spark.sources.colocated import ColocatedJoinReader

    tl, tr, *_ = _mk_tables(catalog, spark, n=200, buckets=4)
    reader = ColocatedJoinReader(
        {"left": tl.path, "right": tr.path, "left_on": "k"}
    )
    reader.pushFilters([EqualTo(("k",), 42)])
    first = list(reader.partitions())
    second = list(reader.partitions())
    assert len(first) == 1
    assert len(second) == 1, "pin must not be consumed by partitions()"
    # a new scan's pushFilters with no key equality resets the pin: the
    # next planning is unpruned (all 4 buckets)
    reader.pushFilters([])
    assert len(list(reader.partitions())) == 4


class TestUntunedSession:
    """Round-8 post-mortem: the driver builds its OWN SparkSession, where
    ``spark.sql.python.filterPushdown.enabled`` defaults to FALSE, and
    conftest's global conf masked exactly that — `join_bucket_colocated`
    was the round's only red CORRECTNESS row while every test passed.
    These tests flip the conf OFF first, mimicking the driver, and prove
    both self-heal paths: tune_session() and colocated_join() itself."""

    CONF = "spark.sql.python.filterPushdown.enabled"

    def _with_conf_off(self, spark, fn):
        prev = spark.conf.get(self.CONF, "true")
        spark.conf.set(self.CONF, "false")
        try:
            return fn()
        finally:
            spark.conf.set(self.CONF, prev)

    def test_tune_session_sets_required_confs(self, spark):
        from paimon_presto_spark.session import tune_session

        def check():
            tune_session(spark)
            assert spark.conf.get(self.CONF) == "true"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

        self._with_conf_off(spark, check)

    def test_colocated_join_self_heals(self, catalog, spark):
        tl, tr, left, right = _mk_tables(catalog, spark, n=60)

        def run():
            got = colocated_join(spark, tl, tr, left_on="k")
            assert got.count() == right.count()

        self._with_conf_off(spark, run)

    def test_driver_contract_entry_runs_untuned(self, spark):
        """The exact driver shape: call the wrapped __spark_entry__ entry
        on a session nobody tuned."""
        import importlib
        mod = importlib.import_module("__spark_entry__")
        q = mod.queries()["join_bucket_colocated"]

        def run():
            df = q(spark, "/root/testdata/sf0.001")
            assert df.count() > 0

        self._with_conf_off(spark, run)
