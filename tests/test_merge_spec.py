"""The merge contract in one place: ``table.merge_spec`` parses and
validates a primary-key table's merge options once, and both executors
take its ``MergeSpec`` (the randomized check that they agree is
``tests/test_merge_spec_property.py``; these are its fixed cases)."""

from decimal import Decimal as D

import pytest

from tests.test_merge_spec_property import (
    BIG,
    NAN,
    _norm,
    arrow_table,
    merged_by_both,
    table_schema,
)

# one table-driven case per engine: (value columns, options, change rows
# (k, values..., __seq, __pos, __row_kind), the merged rows)
ENGINE_CASES = {
    "deduplicate": (
        "ver double, i bigint", {"sequence.field": "ver"},
        [(1, 5.0, 1, 2, 0, "I"), (1, NAN, BIG, 1, 1, "I"),
         (1, None, 2, 3, 2, "I"),  # NaN is the largest version
         (2, 2.0, 5, 1, 3, "I"), (2, 1.0, None, 2, 4, "D"),  # stale delete
         (3, None, 1, 1, 5, "I"), (3, None, 2, 1, 6, "I")],  # __pos tie-break
        [(1, NAN, BIG), (2, 2.0, 5), (3, None, 2)],
    ),
    "first-row": (
        "i bigint, d double", {"merge-engine": "first-row"},
        [(1, 1, NAN, 2, 0, "I"), (1, 2, 1.0, 1, 3, "I"),
         (2, 3, None, 1, 1, "D"), (2, BIG, None, 2, 2, "I"),
         (3, 4, 4.0, 1, 4, "D")],
        [(1, 2, 1.0), (2, BIG, None)],
    ),
    "partial-update": (
        "i bigint, d double", {"merge-engine": "partial-update"},
        [(1, BIG, 1.0, 1, 0, "I"), (1, None, NAN, 2, 1, "I"),
         (1, 9, None, 3, 2, "D"), (2, None, None, 1, 3, "I")],
        [(1, BIG, NAN), (2, None, None)],
    ),
    "aggregation": (
        "s bigint, hi double, lo double, n int, p bigint, v string,"
        " dp decimal(10,2)",
        {"merge-engine": "aggregation",
         "fields.s.aggregate-function": "sum",
         "fields.hi.aggregate-function": "max",
         "fields.lo.aggregate-function": "min",
         "fields.n.aggregate-function": "count",
         "fields.p.aggregate-function": "product",
         "fields.dp.aggregate-function": "product"},
        [(1, BIG, 1.0, 1.0, 1, 2**31 + 1, "a", D("1.25"), 1, 0, "I"),
         (1, 2, NAN, NAN, 1, 2**31 + 1, None, D("1.25"), 1, 1, "I"),
         (1, None, None, None, None, None, None, None, 2, 2, "I"),
         (1, 100, 100.0, -100.0, 1, 100, "x", D(100), 3, 3, "D"),  # ignored
         (2, None, None, None, None, None, None, None, 1, 4, "I")],
        # 1.25 * 1.25 = 1.5625 rounds half up to the declared scale
        [(1, BIG + 2, NAN, 1.0, 2, (2**31 + 1) ** 2, "a", D("1.56")),
         (2, None, None, None, 0, None, None, None)],
    ),
    "aggregation-all-null": (
        "l string, c array<int>, d array<int>",
        {"merge-engine": "aggregation",
         "fields.l.aggregate-function": "listagg",
         "fields.c.aggregate-function": "collect",
         "fields.d.aggregate-function": "collect",
         "fields.d.distinct": "true"},
        [(1, "a", [1], [1], 1, 0, "I"), (1, None, None, None, 2, 1, "I"),
         (2, None, None, None, 1, 2, "I"), (2, None, None, None, 2, 3, "I")],
        # a key whose values are all NULL keeps NULL, as in Paimon
        [(1, "a", [1], [1]), (2, None, None, None)],
    ),
    "aggregation-keys-only": (
        "", {"merge-engine": "aggregation"},
        [(1, 1, 0, "I"), (1, 2, 1, "I"), (2, 1, 2, "I"), (3, 1, 3, "D")],
        [(1,), (2,)],
    ),
}


@pytest.mark.parametrize("case", sorted(ENGINE_CASES))
def test_engine_case(spark, case):
    ddl, options, rows, expected = ENGINE_CASES[case]
    spark_rows, arrow_rows = merged_by_both(
        spark, table_schema(ddl, options), rows)
    assert spark_rows == arrow_rows
    assert sorted(spark_rows.elements(), key=repr) == sorted(
        (tuple(map(_norm, r)) for r in expected), key=repr)


#: (declared type, aggregate function, one key's values) whose merge
#: overflows the declared type
OVERFLOW_CASES = {
    "sum-bigint": ("bigint", "sum", [2**62, 2**62]),
    "sum-int": ("int", "sum", [2**30, 2**30]),
    "sum-decimal": ("decimal(4,2)", "sum", [D("99.99"), D("0.01")]),
    "product-bigint": ("bigint", "product", [2**62, 4]),
    "product-bigint-step": ("bigint", "product", [2**62, 4, 0]),
    "product-int": ("int", "product", [2**16, 2**16]),
}


@pytest.mark.parametrize("case", sorted(OVERFLOW_CASES))
def test_overflow_raises_in_both_executors(spark, case):
    """An aggregate that leaves its type raises in both executors, as
    Spark's ANSI arithmetic does, instead of wrapping silently."""
    from paimon_presto_spark.sources.datasource import _merge_arrow
    from paimon_presto_spark.table import _file_schema, _merge_on_read, merge_spec

    typ, fn, values = OVERFLOW_CASES[case]
    schema = table_schema(f"v {typ}", {
        "merge-engine": "aggregation", "fields.v.aggregate-function": fn})
    rows = [(1, v, i + 1, 0, "I") for i, v in enumerate(values)]
    spec = merge_spec(schema)
    df = spark.createDataFrame(rows, _file_schema(schema))
    with pytest.raises(Exception, match="OVERFLOW|OUT_OF_RANGE"):
        _merge_on_read(df, spec).collect()
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        _merge_arrow(arrow_table(schema, rows), spec)


#: option sets merge_spec rejects, with the error they raise
INVALID = {
    "unknown-engine": ({"merge-engine": "newest"}, "unknown merge-engine"),
    "sequence-field-unknown": (
        {"sequence.field": "nope"}, "unknown column 'nope'"),
    "sequence-field-key": (
        {"sequence.field": "k"}, "cannot be a primary key"),
    "sequence-field-and-group": (
        {"merge-engine": "partial-update", "sequence.field": "g",
         "fields.g.sequence-group": "v"}, "cannot be combined"),
    "sequence-field-aggregation": (
        {"merge-engine": "aggregation", "sequence.field": "g"},
        "not supported with merge-engine 'aggregation'"),
    "group-unknown-column": (
        {"merge-engine": "partial-update",
         "fields.g.sequence-group": "nope"}, "unknown column 'nope'"),
    "group-key-column": (
        {"merge-engine": "partial-update",
         "fields.g.sequence-group": "k"}, "cannot be a primary key"),
    "unknown-aggregate": (
        {"merge-engine": "aggregation",
         "fields.v.aggregate-function": "median"},
        "unsupported aggregate-function 'median' for field 'v'"),
    "merge-map-not-map": (
        {"merge-engine": "aggregation",
         "fields.v.aggregate-function": "merge_map"},
        "merge_map needs a map column"),
}


@pytest.mark.parametrize("case", sorted(INVALID))
def test_invalid_contract_rejected_at_create(catalog, case):
    """A bad merge contract fails at create_table, as Paimon's schema
    validation does — before any pointer or schema file exists."""
    options, message = INVALID[case]
    with pytest.raises(ValueError, match=message):
        catalog.create_table(
            "default", "bad", "k int, g bigint, v string",
            primary_keys=["k"], options=options)
    assert not catalog.table_exists("default", "bad")


def test_merge_spec_rejects_unknown_aggregate_function():
    from paimon_presto_spark.table import merge_spec

    schema = table_schema(
        "v bigint", {"merge-engine": "aggregation",
                     "fields.v.aggregate-function": "median"})
    with pytest.raises(
        ValueError, match="unsupported aggregate-function 'median' for field 'v'"
    ):
        merge_spec(schema)


def test_append_only_table_has_no_spec():
    from paimon_presto_spark.table import TableSchema, merge_spec

    schema = TableSchema(0, [{"id": 0, "name": "a", "type": "int"}], [], [],
                         {"merge-engine": "newest"}, 0)
    assert merge_spec(schema) is None
