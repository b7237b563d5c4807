"""Differential test of the writers: ``Table.append``/``upsert`` on
parquet, the same on avro, and ``df.write.format("paimon")`` (the
DataSource writer) store the same rows. Each case writes one batch
through all three, into an append table, a partitioned append table and
a partitioned, bucketed primary-key table, with NULLs, NaN, ±inf,
±(2**53+1), decimals, CHAR/VARCHAR, dates, timestamps, arrays, maps and
structs. Then, per shape:

- ``to_df()`` and ``spark.read.format("paimon")`` of every table read
  the input rows (CHAR padded) as a multiset, NaN equal to NaN, in one
  schema;
- every key lands in the same (partition, bucket) directory whichever
  writer wrote it;
- the manifest stats are equal. Two writer differences are left out of
  the min/max compare, both in how a file format records floats and
  timestamps, not in what the writers store: a float column holding NaN
  or ±inf (the JVM parquet writer records NaN as the max, pyarrow's
  footer records +inf as the largest finite double), and a column one
  writer records no stats for (the JVM writes timestamps as INT96,
  which has no statistics).

``test_writers_agree_under_a_west_of_utc_process`` runs the fixed case in
a subprocess under ``TZ=America/Los_Angeles``, where a writer that turns
Arrow timestamps into naive local datetimes shifts them.
"""

import datetime
import itertools
import json
import math
import os
import subprocess
import sys
from collections import Counter
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BIG = 2**53 + 1  # the smallest int64 a double cannot hold
NAN, INF = float("nan"), float("inf")
TS = datetime.datetime(2024, 1, 2, 3, 4, 5)

#: value column -> (declared type, the values a row draws for it)
COLUMNS = {
    "big": ("bigint", [None, 0, BIG, -BIG, 2**63 - 1]),
    "x": ("double", [None, NAN, INF, -INF, 0.0, -1.5]),
    "dec": ("decimal(20,4)", [None, Decimal("1.2500"),
                              Decimal("-12345678901234.5678")]),
    "c": ("char(4)", [None, "", "a", "abcd"]),
    "vc": ("varchar(6)", [None, "", "xyz", "日本語"]),
    "b": ("boolean", [None, True, False]),
    "d": ("date", [None, datetime.date(2024, 1, 2), datetime.date(1969, 12, 31)]),
    "ts": ("timestamp", [None, TS, datetime.datetime(1960, 1, 1, 0, 0, 0, 1)]),
    "tn": ("timestamp_ntz", [None, TS, datetime.datetime(1969, 12, 31, 23, 59, 59)]),
    "arr": ("array<bigint>", [None, [], [BIG, None]]),
    "m": ("map<string,double>", [None, {}, {"a": NAN, "b": -1.5}]),
    "st": ("struct<a:int,s:string>", [None, (1, "x"), (None, None)]),
}
DDL = ", ".join(["k int", "p int"] + [f"{c} {t}" for c, (t, _) in COLUMNS.items()])
#: the frame the writers take: Spark has no CHAR/VARCHAR DataFrame column
INPUT_DDL = DDL.replace("char(4)", "string").replace("varchar(6)", "string")

SHAPES = {
    "append": {},
    "partitioned": {"partition_keys": ["p"]},
    "primary-key": {"partition_keys": ["p"], "primary_keys": ["k", "p"],
                    "options": {"bucket": "3"}},
}
WRITERS = ("parquet", "avro", "datasource")
_TABLE_IDS = itertools.count()

#: the verified defects: an int64 above 2**53 next to a NULL, NaN
#: next to a NULL, a timestamp; one row per partition value
FIXED_ROWS = [
    (1, 1, BIG, NAN, Decimal("1.2500"), "ab", "xyz", True,
     datetime.date(2024, 1, 2), TS, TS, [BIG, None], {"a": NAN}, (1, "x")),
    (2, 1, None, None, None, None, None, None, None, None, None, None, None, None),
    (3, None, -BIG, INF, Decimal("-12345678901234.5678"), "abcd", "", False,
     datetime.date(1969, 12, 31), TS, TS, [], {}, (None, None)),
    (4, 2, 2**63 - 1, -INF, None, "", "日本語", None, None, None, None, None,
     None, None),
]


def _norm(v):
    """`v` as a hashable value, NaN equal to NaN, maps order-free."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # arrays, and structs as Rows
        return tuple(_norm(x) for x in v)
    return v


def _expected(rows):
    """The rows a read returns: the input with CHAR(4) blank-padded."""
    c = 2 + list(COLUMNS).index("c")
    return Counter(
        tuple(_norm(x.ljust(4) if i == c and x is not None else x)
              for i, x in enumerate(r))
        for r in rows
    )


def write_all(spark, catalog, shape, rows, name):
    """One table per writer, each holding `rows` written in one batch."""
    opts = SHAPES[shape]
    df = spark.createDataFrame(rows, INPUT_DDL).coalesce(1)
    tables = {}
    for writer in WRITERS:
        options = dict(opts.get("options", {}))
        if writer == "avro":
            options["file.format"] = "avro"
        t = catalog.create_table(
            "default", f"{name}_{writer}", DDL,
            partition_keys=opts.get("partition_keys", []),
            primary_keys=opts.get("primary_keys", []), options=options,
        )
        if writer == "datasource":
            df.write.format("paimon").option("path", t.path).mode("append").save()
        elif t.schema().primary_keys:
            t.upsert(df)
        else:
            t.append(df)
        tables[writer] = t
    return tables


def _file_keys(t):
    """{(k, p): (partition, bucket)} over the table's data files."""
    from paimon_presto_spark.sources.datasource import _read_arrow_file

    out = {}
    for e in t.manifest_entries():
        f = _read_arrow_file(os.path.join(t.path, e["path"]))
        for k, p in zip(f["k"].to_pylist(), f["p"].to_pylist()):
            out[(k, p)] = (json.dumps(e["partition"], sort_keys=True), e["bucket"])
    return out


def _stats(t):
    """{(partition, bucket): stats} of the table's files (one a group)."""
    entries = t.manifest_entries()
    groups = {(json.dumps(e["partition"], sort_keys=True), e["bucket"]): e["stats"]
              for e in entries}
    assert len(groups) == len(entries), "a writer split a group into files"
    return groups


def _finite(stat):
    return all(not isinstance(v, float) or math.isfinite(v)
               for v in (stat["min"], stat["max"]))


def assert_writers_agree(spark, tables, rows):
    want = _expected(rows)
    reads = {}
    for writer, t in tables.items():
        reads[f"{writer} to_df"] = t.to_df()
        reads[f"{writer} format(paimon)"] = (
            spark.read.format("paimon").option("path", t.path).load())
    types = {name: [(f.name, f.dataType) for f in df.schema]
             for name, df in reads.items()}
    for name, df in reads.items():
        assert types[name] == types["parquet to_df"], name
        got = Counter(tuple(_norm(x) for x in r) for r in df.collect())
        assert got == want, name

    keys = {w: _file_keys(t) for w, t in tables.items()}
    assert keys["avro"] == keys["parquet"] and keys["datasource"] == keys["parquet"]

    stats = {w: _stats(t) for w, t in tables.items()}
    for w in ("avro", "datasource"):
        assert stats[w].keys() == stats["parquet"].keys(), w
        for group, ref in stats["parquet"].items():
            got = stats[w][group]
            assert got.keys() >= ref.keys(), (w, group)
            for c, s in ref.items():
                assert got[c]["null_count"] == s["null_count"], (w, group, c)
                recorded = None not in (s["min"], got[c]["min"])
                if recorded and _finite(s) and _finite(got[c]):
                    assert (got[c]["min"], got[c]["max"]) == (s["min"], s["max"]), (
                        w, group, c)
    # the two Arrow writers record NaN and NULL alike: neither is a bound
    for group, s in stats["avro"].items():
        assert s.keys() == stats["datasource"][group].keys(), group
        for c, a in s.items():
            b = stats["datasource"][group][c]
            assert (a["min"] is None) == (b["min"] is None), (group, c)


@pytest.fixture()
def registered(spark):
    from paimon_presto_spark.sources.datasource import PaimonDataSource

    try:
        spark.dataSource.register(PaimonDataSource)
    except Exception:
        pass  # already registered in this session
    return spark


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_writers_store_the_same_rows(registered, spark, catalog, shape):
    tables = write_all(spark, catalog, shape, FIXED_ROWS, "fixed")
    assert_writers_agree(spark, tables, FIXED_ROWS)


@st.composite
def batches(draw):
    """Rows with a unique key ``k`` (the primary-key shape upserts one
    version of each key) and a partition value ``p`` that may be NULL."""
    n = draw(st.integers(1, 6))
    return [
        (i, draw(st.sampled_from([None, 1, 2])),
         *[draw(st.sampled_from(pool)) for _, pool in COLUMNS.values()])
        for i in range(n)
    ]


@pytest.mark.parametrize("shape", sorted(SHAPES))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_writers_agree(registered, spark, catalog, shape, data):
    rows = data.draw(batches())
    tables = write_all(spark, catalog, shape, rows, f"prop{next(_TABLE_IDS)}")
    assert_writers_agree(spark, tables, rows)


def test_writers_agree_under_a_west_of_utc_process():
    """The fixed case in a process whose local zone is eight hours west of
    the session's UTC: a writer that turns Arrow timestamps into naive
    local datetimes shifts each by eight hours."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         f"{__file__}::test_writers_store_the_same_rows"],
        cwd=os.path.dirname(here), capture_output=True, text=True,
        env={**os.environ, "TZ": "America/Los_Angeles",
             "PYTHONPATH": os.path.dirname(here)},
        timeout=900,
    )
    assert out.returncode == 0, out.stdout[-4000:]
