"""Property tests for the scan planner: file skipping must be purely an
optimization — `scan(predicate=p)` ≡ full scan + DataFrame filter for any
supported predicate over any file layout. This guards the custom
min/max-stats logic (`plans/predicate.py:test_stats`), the riskiest code in
the read path (a wrong skip silently loses rows). The DataSource read
(`spark.read.format("paimon")` + filter, planned by the same
`TableScan.plan_files` from Catalyst's pushed filters) is a third side.

Also covers the commit protocol: a conflicting snapshot id must be retried
and never drop either writer's data.
"""

from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from paimon_presto_spark.plans.predicate import P
from paimon_presto_spark.sources import register_datasource


def _ds_filtered(spark, t, pred):
    """The DataSource read of `t` filtered by `pred`: Catalyst pushes the
    filter into the reader's scan planning, then re-applies it."""
    register_datasource(spark)
    return (
        spark.read.format("paimon").option("path", t.path).load()
        .filter(pred.to_spark())
    )


values = st.integers(-5, 25)
# decimals no double represents exactly: the nearest double of 0.1 and of
# 12345.6789 lies above the value, of 0.3 below it
decimals = st.sampled_from(
    [Decimal("0.1000"), Decimal("0.3000"), Decimal("12345.6789")]
)

predicates = st.recursive(
    st.one_of(
        st.builds(P.eq, st.just("a"), values),
        st.builds(P.lt, st.just("a"), values),
        st.builds(P.gte, st.just("a"), values),
        st.builds(P.between, st.just("a"), values, values),
        st.builds(P.in_, st.just("a"), st.lists(values, min_size=1, max_size=4)),
        st.builds(P.is_null, st.just("b")),
        st.builds(P.not_null, st.just("b")),
        st.builds(P.eq, st.just("b"), st.integers(0, 5)),
        st.builds(P.eq, st.just("d"), decimals),
        st.builds(P.gte, st.just("d"), decimals),
        st.builds(P.lte, st.just("d"), decimals),
        st.builds(P.in_, st.just("d"), st.lists(decimals, min_size=1, max_size=2)),
    ),
    lambda kids: st.one_of(
        st.builds(lambda x, y: x & y, kids, kids),
        st.builds(lambda x, y: x | y, kids, kids),
    ),
    max_leaves=4,
)

layouts = st.lists(  # each inner list = one append commit = >=1 file
    st.lists(
        st.tuples(
            values,
            st.one_of(st.none(), st.integers(0, 5)),
            st.one_of(st.none(), decimals),
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(commits=layouts, pred=predicates)
# a decimal's float stats round above it (0.1) or below it (0.3)
@example(commits=[[(1, None, Decimal("0.1000"))]], pred=P.eq("d", Decimal("0.1000")))
@example(commits=[[(1, None, Decimal("0.3000"))]], pred=P.gte("d", Decimal("0.3000")))
# an int literal past 2**53: the file's float max rounds 2**53 + 1 down
@example(
    commits=[[(1, None, Decimal(2**53 + 1))]], pred=P.eq("d", 2**53 + 1)
)
def test_file_skipping_never_changes_results(spark, tmp_path_factory, commits, pred):
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_prune")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    ddl = "a int, b int, d decimal(30,4)"
    t = c.create_table("d", "t", ddl)
    for rows in commits:
        t.append(spark.createDataFrame(rows, ddl))

    def got(df):
        return sorted((tuple(r) for r in df.select("a", "b", "d").collect()), key=repr)

    pruned = got(t.scan(predicate=pred).to_df())
    full = got(t.to_df().filter(pred.to_spark()))
    ds = got(_ds_filtered(spark, t, pred))
    assert pruned == full
    assert ds == full


def test_commit_conflict_retries_and_preserves_both_writers(spark, catalog):
    """A snapshot-id race must retry at the next id and keep BOTH writers'
    files (the read-committed contract of A22)."""
    import json
    import os

    t = catalog.create_table("default", "cc", "a int")
    t.append(spark.createDataFrame([(1,)], "a int"))

    # another writer claims snapshot 2 out from under us, with its own file
    other = catalog.create_table("default", "cc_other", "a int")
    other.append(spark.createDataFrame([(99,)], "a int").coalesce(1))
    other_entry = next(
        e for e in other.manifest_entries() if e["row_count"] > 0
    ).copy()
    # relocate the other writer's file into cc's tree so its entry resolves
    src = os.path.join(other.path, other_entry["path"])
    dst_rel = os.path.join("data", "intruder.parquet")
    os.makedirs(os.path.join(t.path, "data"), exist_ok=True)
    os.replace(src, os.path.join(t.path, dst_rel))
    other_entry["path"] = dst_rel
    base = t.manifest_entries() + [other_entry]
    mname = "manifest-2-intruder.json"
    with open(os.path.join(t.path, "manifest", mname), "w") as fh:
        json.dump({"entries": base}, fh)
    with open(os.path.join(t.path, "snapshot", "snapshot-2.json"), "w") as fh:
        json.dump(
            {
                "snapshot_id": 2, "schema_id": 0, "commit_user": "other",
                "commit_identifier": 2, "commit_kind": "APPEND",
                "timestamp_ms": 0, "manifest": mname, "total_rows": 2,
            },
            fh,
        )

    # our commit must land as snapshot 3 and keep the intruder's rows
    t.append(spark.createDataFrame([(7,)], "a int"))
    assert t.snapshot().snapshot_id == 3
    got = sorted(r["a"] for r in t.to_df().collect())
    assert got == [1, 7, 99]


ts_values = st.datetimes(
    min_value=__import__("datetime").datetime(2020, 1, 1),
    max_value=__import__("datetime").datetime(2024, 12, 31),
).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000))

ts_predicates = st.one_of(
    st.builds(lambda v: P.eq("ts", v.strftime("%Y-%m-%d %H:%M:%S.%f")), ts_values),
    st.builds(lambda v: P.eq("ts", v.strftime("%Y-%m-%d %H:%M:%S")), ts_values),
    st.builds(lambda v: P.lt("ts", v.isoformat(sep=" ")), ts_values),
    st.builds(lambda v: P.gte("ts", v.isoformat()), ts_values),
    st.builds(
        lambda a, b: P.between("ts", min(a, b).isoformat(sep=" "), max(a, b).isoformat(sep=" ")),
        ts_values, ts_values,
    ),
)

ts_layouts = st.lists(
    st.lists(ts_values, min_size=1, max_size=4), min_size=1, max_size=3
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(commits=ts_layouts, pred=ts_predicates)
def test_timestamp_file_skipping_never_changes_results(
    spark, tmp_path_factory, commits, pred
):
    """Timestamp stats are strings in the manifest while predicate literals
    arrive in arbitrary textual forms — pruning must stay chronological
    (regression class: lexicographic '...123' vs '...123000')."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_ts")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "ts timestamp_ntz")
    for rows_ in commits:
        t.append(spark.createDataFrame([(v,) for v in rows_], "ts timestamp_ntz"))

    pruned = sorted(str(r["ts"]) for r in t.scan(predicate=pred).to_df().collect())
    full = sorted(
        str(r["ts"]) for r in t.to_df().filter(pred.to_spark()).collect()
    )
    assert pruned == full


pk_workload = st.lists(  # each element = one commit against the pk table
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.lists(
            st.tuples(st.integers(0, 6), values),  # (key, value)
            min_size=1,
            max_size=5,
        ),
    ),
    min_size=1,
    max_size=5,
)

pk_predicates = st.recursive(
    st.one_of(
        st.builds(P.eq, st.just("k"), st.integers(0, 6)),
        st.builds(P.in_, st.just("k"),
                  st.lists(st.integers(0, 6), min_size=1, max_size=3)),
        st.builds(P.eq, st.just("a"), values),
        st.builds(P.lt, st.just("a"), values),
        st.builds(P.gte, st.just("a"), values),
        st.builds(P.between, st.just("a"), values, values),
    ),
    lambda kids: st.one_of(
        st.builds(lambda x, y: x & y, kids, kids),
        st.builds(lambda x, y: x | y, kids, kids),
    ),
    max_leaves=4,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(workload=pk_workload, pred=pk_predicates)
def test_pk_file_skipping_never_resurrects_stale_rows(
    spark, tmp_path_factory, workload, pred
):
    """Merge-on-read + file skipping: for ANY upsert/delete history and ANY
    predicate (key- or value-column), scan(predicate) must equal the full
    merged state filtered afterwards. Value-column predicates are the trap:
    a per-file skip on them can drop a key's newest version and resurrect
    a stale one (plans.predicate.skip_safe_predicate)."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_pk_prune")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "k int, a int", primary_keys=["k"],
                       options={"bucket": "2"})
    for op, rows in workload:
        df = spark.createDataFrame(rows, "k int, a int")
        if op == "upsert":
            t.upsert(df)
        else:
            t.delete(df.select("k").distinct())
    pruned = sorted(
        (r["k"], r["a"]) for r in t.scan(predicate=pred).to_df().collect()
    )
    full = sorted(
        (r["k"], r["a"])
        for r in t.to_df().filter(pred.to_spark()).collect()
    )
    ds = sorted((r["k"], r["a"]) for r in _ds_filtered(spark, t, pred).collect())
    assert pruned == full
    assert ds == full


def test_partition_and_value_conjunction_keeps_partition(spark, tmp_path_factory):
    """AND(partition-col, value-col) must prune to the partition and scan
    it — evaluating the full predicate against partition-only rows would
    drop EVERY partition (the value conjunct reads as False there)."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_pv")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "pt string, val int", partition_keys=["pt"])
    t.append(spark.createDataFrame(
        [("X", 5), ("X", 6), ("Y", 5)], "pt string, val int"))
    sc = t.scan(predicate=P.eq("pt", "X") & P.eq("val", 5))
    assert [(r["pt"], r["val"]) for r in sc.to_df().collect()] == [("X", 5)]
    assert sc.last_plan["after_partition_prune"] == 2  # pt=X files only
    # OR mixing partition and value columns must NOT prune (conservative)
    sc2 = t.scan(predicate=P.eq("pt", "Y") | P.eq("val", 6))
    got = sorted((r["pt"], r["val"]) for r in sc2.to_df().collect())
    assert got == [("X", 6), ("Y", 5)]
    assert sc2.last_plan["after_partition_prune"] == 3


part_layouts = st.lists(  # one append commit of (pt, a, b) rows
    st.lists(
        st.tuples(st.sampled_from(["X", "Y", "Z"]), values,
                  st.one_of(st.none(), st.integers(0, 5))),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=3,
)

part_predicates = st.recursive(
    st.one_of(
        st.builds(P.eq, st.just("pt"), st.sampled_from(["X", "Y", "Z", "W"])),
        st.builds(P.in_, st.just("pt"),
                  st.lists(st.sampled_from(["X", "Y", "Z"]),
                           min_size=1, max_size=2)),
        st.builds(P.eq, st.just("a"), values),
        st.builds(P.lt, st.just("a"), values),
        st.builds(P.is_null, st.just("b")),
    ),
    lambda kids: st.one_of(
        st.builds(lambda x, y: x & y, kids, kids),
        st.builds(lambda x, y: x | y, kids, kids),
    ),
    max_leaves=4,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(commits=part_layouts, pred=part_predicates)
def test_partition_pruning_never_changes_results(
    spark, tmp_path_factory, commits, pred
):
    """Partitioned twin of the file-skipping property: pruning + skipping
    under ANY predicate mixing partition and value columns must equal a
    full scan + filter."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_part_prune")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "pt string, a int, b int",
                       partition_keys=["pt"])
    for rows in commits:
        t.append(spark.createDataFrame(rows, "pt string, a int, b int"))
    pruned = sorted(
        ((r["pt"], r["a"], r["b"]) for r in
         t.scan(predicate=pred).to_df().collect()),
        key=repr,
    )
    full = sorted(
        ((r["pt"], r["a"], r["b"]) for r in
         t.to_df().filter(pred.to_spark()).collect()),
        key=repr,
    )
    ds = sorted(
        ((r["pt"], r["a"], r["b"]) for r in
         _ds_filtered(spark, t, pred).collect()),
        key=repr,
    )
    assert pruned == full
    assert ds == full
