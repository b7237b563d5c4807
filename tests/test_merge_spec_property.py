"""Differential property test: the Spark merge executor
(``table._merge_on_read``) and the Arrow one the DataSource reader runs
per bucket (``sources.datasource._merge_arrow``) are one contract — the
``MergeSpec`` both take. Hypothesis builds change-row tables straight
from Python tuples (no table writes): NULLs, NaN doubles, bigints above
2**53, ``D`` rows, ``__seq`` ties broken by ``__pos``, every engine,
``sequence.field`` (NULL and NaN versions included), sequence groups, all
14 aggregate functions with ``distinct``, and tables with no value
column. Each table goes through both executors; the results must be
equal as multisets (NaN equal to NaN) and keep the declared types.
"""

import math
from collections import Counter
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

BIG = 2**53 + 1  # the smallest int64 a double cannot hold
NAN, INF = float("nan"), float("inf")

#: declared type -> the values a change row draws for it
POOLS = {
    "int": [None, 0, 1, -1, 5, 10],
    "bigint": [None, 0, 1, -1, 3, BIG, -BIG - 2, 2**31 + 1],
    "double": [None, 0.0, -1.5, 2.0, 3.0, NAN, INF, -INF],
    "decimal(10,2)": [None, Decimal("0.00"), Decimal("1.25"),
                      Decimal("-0.35"), Decimal("-12345.67")],
    "string": [None, "", "a", "b", "a,b"],
    "boolean": [None, True, False],
    "array<bigint>": [None, [], [1], [2, 1], [BIG, None]],
    "map<string,bigint>": [None, {}, {"x": 1}, {"x": 2, "y": BIG}],
}

PU = {"merge-engine": "partial-update"}
#: aggregate function -> the column types it is checked on
AGGREGATES = {
    "sum": ["bigint", "double", "decimal(10,2)", "int"],
    "product": ["bigint", "double", "int", "decimal(10,2)"],
    "count": ["int", "string"],
    "max": ["bigint", "double", "string"],
    "min": ["bigint", "double", "string"],
    "last_non_null": ["double", "map<string,bigint>"],
    "first_non_null": ["bigint", "string"],
    "last_value": ["double", "string"],
    "first_value": ["bigint", "double"],
    "bool_and": ["boolean"],
    "bool_or": ["boolean"],
    "listagg": ["string"],
    "collect": ["array<bigint>"],
    "merge_map": ["map<string,bigint>"],
}


def _aggregation_case():
    cols, opts = [], {"merge-engine": "aggregation"}
    for fn, types in AGGREGATES.items():
        for i, t in enumerate(types):
            c = f"{fn}_{i}"
            cols.append(f"{c} {t}")
            opts[f"fields.{c}.aggregate-function"] = fn
    cols.append("collect_d array<bigint>")
    opts["fields.collect_d.aggregate-function"] = "collect"
    opts["fields.collect_d.distinct"] = "true"
    return ", ".join(cols), opts


#: case -> (value columns DDL, table options); the key is always `k int`
CASES = {
    "deduplicate": ("i bigint, d double, s string", {}),
    "deduplicate-sequence": (
        "sd double, si bigint, v string", {"sequence.field": "sd,si"}),
    "first-row": ("i bigint, d double", {"merge-engine": "first-row"}),
    "partial-update": (
        "i bigint, d double, s string, m map<string,bigint>", PU),
    "partial-update-sequence": (
        "ver double, i bigint, d double", {**PU, "sequence.field": "ver"}),
    "partial-update-groups": (
        "g1 bigint, a bigint, b double, g2 double, c string, e bigint",
        {**PU, "fields.g1.sequence-group": "a,b",
         "fields.g2.sequence-group": "c"}),
    "aggregation": _aggregation_case(),
    **{f"{e}-keys-only": ("", {"merge-engine": e})
       for e in ("deduplicate", "first-row", "partial-update", "aggregation")},
}


def table_schema(values_ddl: str, options: dict):
    from paimon_presto_spark.table import TableSchema, split_ddl_fields

    fields = [("k", "int")] + split_ddl_fields(values_ddl)
    return TableSchema(
        schema_id=0,
        fields=[{"id": i, "name": n, "type": t, "nullable": True}
                for i, (n, t) in enumerate(fields)],
        primary_keys=["k"], partition_keys=[], options=dict(options),
        highest_field_id=len(fields) - 1,
    )


@st.composite
def change_rows(draw, schema):
    """(k, values..., __seq, __pos, __row_kind) rows: few keys, commits
    1-3 so __seq ties, __pos a permutation so (__seq, __pos) is unique as
    in written tables."""
    types = [f["type"] for f in schema.fields[1:]]
    n = draw(st.integers(0, 8))
    pos = draw(st.permutations(range(n)))
    return [
        (draw(st.integers(0, 2)),
         *[draw(st.sampled_from(POOLS[t])) for t in types],
         draw(st.integers(1, 3)), pos[i],
         draw(st.sampled_from(["I", "I", "I", "D"])))
        for i in range(n)
    ]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, list):
        if v and isinstance(v[0], tuple):  # map entries: order-free
            return tuple(sorted((k, _norm(x)) for k, x in v))
        return tuple(_norm(x) for x in v)
    return v


def arrow_table(schema, rows):
    """`rows` as the Arrow table of one bucket's change rows under
    `schema`, in the declared Arrow types."""
    import pyarrow as pa

    from paimon_presto_spark.sources.datasource import _arrow_type
    from paimon_presto_spark.table import _file_schema

    types = [_arrow_type(f["type"]) for f in schema.fields]
    types += [pa.int64(), pa.int64(), pa.string()]
    return pa.table({
        f.name: pa.array([r[i] for r in rows], type=t)
        for i, (f, t) in enumerate(zip(_file_schema(schema).fields, types))
    })


def merged_by_both(spark, schema, rows):
    """(Spark rows, Arrow rows) of merging `rows` under `schema`'s spec,
    each normalized for a multiset compare; both keep declared types."""
    from paimon_presto_spark.sources.datasource import _merge_arrow
    from paimon_presto_spark.table import _file_schema, _merge_on_read, merge_spec

    spec = merge_spec(schema)
    file_schema = _file_schema(schema)
    out = _merge_on_read(spark.createDataFrame(rows, file_schema), spec)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in file_schema if f.name in spec.columns]
    tbl = arrow_table(schema, rows)
    got = _merge_arrow(tbl, spec).select(list(spec.columns))
    assert got.schema.types == tbl.schema.types[:len(spec.columns)]
    spark_rows = Counter(tuple(map(_norm, r)) for r in out.collect())
    arrow_rows = Counter(
        tuple(_norm(r[c]) for c in spec.columns) for r in got.to_pylist())
    return spark_rows, arrow_rows


#: the magnitude a product must stay below in each type
_PRODUCT_BOUND = {"int": 2**31, "bigint": 2**63, "decimal(10,2)": 10**8 - 1}


def _fits(schema, rows):
    """Overflow raises in both executors (the fixed cases in
    ``test_merge_spec.py``), so it has no rows to compare: keep tables
    whose per-key products fit their type."""
    for j, f in enumerate(schema.fields):
        fn = schema.options.get(f"fields.{f['name']}.aggregate-function")
        if fn != "product" or f["type"] not in _PRODUCT_BOUND:
            continue
        prod: dict = {}
        for r in rows:
            if r[-1] != "D" and r[j] is not None:
                prod[r[0]] = prod.get(r[0], 1) * r[j]
        if any(abs(p) >= _PRODUCT_BOUND[f["type"]] for p in prod.values()):
            return False
    return True


@pytest.mark.parametrize("case", sorted(CASES))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_executors_agree(spark, case, data):
    schema = table_schema(*CASES[case])
    rows = data.draw(change_rows(schema))
    assume(_fits(schema, rows))
    spark_rows, arrow_rows = merged_by_both(spark, schema, rows)
    assert spark_rows == arrow_rows
