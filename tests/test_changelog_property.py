"""Property test: for every merge engine, the lookup changelog rebuilds the
merged state. After each commit of a random upsert/delete sequence,
applying ``changelog_df()`` (``I``/``UA`` add a row, ``UB``/``D`` remove
one) must give exactly the rows of ``to_df()``.
"""

from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# (columns after the key, table options); every engine but deduplicate
# needs ignore-delete=true to accept the deletes
CONFIGS = {
    "deduplicate": ("v int", {}),
    "deduplicate-sequence-field": ("s int, v int", {"sequence.field": "s"}),
    "first-row": ("v int", {"merge-engine": "first-row", "ignore-delete": "true"}),
    "partial-update": (
        "a int, b int", {"merge-engine": "partial-update", "ignore-delete": "true"},
    ),
    "partial-update-sequence-field": (
        "s int, a int, b int",
        {"merge-engine": "partial-update", "ignore-delete": "true",
         "sequence.field": "s"},
    ),
    "partial-update-sequence-group": (
        "g int, a int, b int",
        {"merge-engine": "partial-update", "ignore-delete": "true",
         "fields.g.sequence-group": "a"},
    ),
    "aggregation": (
        "total int, n int, last int",
        {"merge-engine": "aggregation", "ignore-delete": "true",
         "fields.total.aggregate-function": "sum",
         "fields.n.aggregate-function": "count",
         "fields.last.aggregate-function": "last_non_null"},
    ),
}

value = st.one_of(st.none(), st.integers(0, 3))
commands = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "upsert", "delete"]),
        st.lists(st.tuples(st.integers(0, 3), value, value, value),
                 min_size=1, max_size=4),
    ),
    min_size=1,
    max_size=4,
)


def _applied(changelog) -> Counter:
    rows = Counter()
    for r in changelog.collect():
        sign = 1 if r["__row_kind"] in ("I", "UA") else -1
        rows[tuple(r)[:-2]] += sign  # drop __row_kind, __seq
    return rows


@pytest.mark.parametrize("config", sorted(CONFIGS))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmds=commands)
# under partial-update + sequence.field, the second write loses the row
# order yet fills column a: the merged row changes, so it must emit
@example(cmds=[("upsert", [(0, 3, None, 1)]), ("upsert", [(0, 1, 2, None)])])
def test_changelog_rebuilds_state(spark, tmp_path_factory, config, cmds):
    from paimon_presto_spark.catalog import Catalog

    cols, options = CONFIGS[config]
    ddl = f"k int, {cols}"
    width = len(ddl.split(","))
    c = Catalog(spark, str(tmp_path_factory.mktemp("wh_clg")))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table(
        "d", "t", ddl, primary_keys=["k"],
        options={"bucket": "1", "changelog-producer": "lookup", **options},
    )
    for op, rows in cmds:
        df = spark.createDataFrame([r[:width] for r in rows], ddl)
        (t.upsert if op == "upsert" else t.delete)(df)
        applied = _applied(t.changelog_df())
        state = Counter(tuple(r) for r in t.to_df().collect())
        assert +applied == state, (op, rows)
        assert all(n >= 0 for n in applied.values()), applied
