"""Co-located bucket join: join two co-bucketed tables with ZERO shuffle.

The table format's pk tables hash every row to a fixed bucket by
``pmod(xxhash64(pk columns...), bucket)`` (``functions/xxhash.spark_bucket``
on the DataSource write path, ``F.xxhash64`` on the table-layer path —
bit-identical layouts). Two tables bucketed on their join key by the SAME
function therefore agree bucket-for-bucket: every joinable row pair lives
in the same bucket id. This module exploits that layout the way Paimon's
own bucketed-join / Hive's SMB join / Spark's bucketed-table join do — the
join executes INSIDE the scan, one task per bucket, no Exchange and no
Spark join node in the plan:

    plan per split:  read+merge left bucket b  ─┐
                                                ├─ arrow hash join → rows
                     read+merge right bucket b ─┘

At 100 TB this is the difference between a nightly fact×profile join
costing two full-table shuffles and costing none: the shuffle was paid
ONCE at write time (rows landed in key buckets), and every subsequent
join on that key is embarrassingly parallel over buckets. The reference
connector reads Paimon's identical layout (reference:
``PrestoSplitManager.java:46-80`` exposes one split per bucket precisely
so the host engine can schedule aligned reads).

Requirements (validated, driver-side):
- both sides are PRIMARY-KEY tables with a FIXED bucket count
  (``bucket`` > 0 — dynamic ``bucket=-1`` assigns by key index, not by
  hash, so two tables' layouts need not agree);
- equal bucket counts;
- the join keys are exactly each side's primary key columns, in pk
  order, with matching types (the bucket hash runs over the pk columns
  in primary-key order — the same order the write path at
  ``table.py`` and the pushFilters prune hash use; hashing int32 5 and
  int64 5 differs);
- partition layouts align: both sides partition by the same join-key
  columns under the left_on<->right_on renaming, or neither side is
  partitioned (splits pair per (partition, bucket));
- no nested (array/map/struct) columns on either side — pyarrow's hash
  join cannot carry them as payload; project them away first.

Each split merges its bucket on both sides first (merge-on-read), then
joins — so the join sees exactly the tables' current versions, deletion
vectors and all. Missing right buckets yield null-extended rows under
``how="left"`` and nothing under ``how="inner"``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from paimon_presto_spark.sources.datasource import (
    PaimonPartition,
    PaimonReader,
    _arrow_type,
    _scan,
    read_split_arrow,
    spark_ddl_type,
)

_HOW = {"inner": "inner", "left": "left outer"}


def _side_options(options: dict, side: str) -> dict:
    out = {"path": options[side]}
    for k in ("branch", "snapshot", "tag", "as-of-timestamp-ms"):
        v = options.get(f"{side}_{k}")
        if v is not None:
            out[k] = v
    return out


def _side_schema(options: dict, side: str) -> dict:
    """One side's render schema — ``TableScan.render_schema`` under the
    side's ``<side>_snapshot`` / ``<side>_tag`` / ``<side>_as-of-timestamp-ms``
    options, the same rule the splits of ``_plan_side`` are rendered in."""
    return _scan(_side_options(options, side)).render_schema().to_json()


def _plan_side(options: dict, side: str, rename: dict[str, str] | None = None):
    """(schema, {(partition_json, bucket): PaimonPartition}) for one side —
    the DataSource reader's own split plan (``PaimonReader.plan_splits``).

    ``rename`` maps this side's partition column names to the LEFT side's
    names before the group key is serialized, so the two sides' keys
    compare under one naming (``right_on`` keys may differ from
    ``left_on``)."""
    return PaimonReader(_side_options(options, side)).plan_splits(rename)


def _field_types(schema: dict) -> dict[str, str]:
    return {f["name"]: f["type"] for f in schema["fields"]}


def _is_nested(t: str) -> bool:
    return t.strip().lower().startswith(("array", "map", "struct"))


def _validate(lschema: dict, rschema: dict, lon: list[str], ron: list[str]):
    if len(lon) != len(ron):
        raise ValueError("colocated join: left_on/right_on length mismatch")
    for side, schema, on in (("left", lschema, lon), ("right", rschema, ron)):
        pks = schema.get("primary_keys", [])
        if not pks:
            raise ValueError(
                f"colocated join: {side} table has no primary key — only "
                "pk tables have a hash-bucketed layout"
            )
        nb = int(schema.get("options", {}).get("bucket", "4"))
        if nb <= 0:
            raise ValueError(
                f"colocated join: {side} table uses dynamic bucketing "
                "(bucket=-1) — its layout is key-index-assigned, not "
                "hash-aligned"
            )
        if list(on) != list(pks):
            raise ValueError(
                f"colocated join: {side} join keys {list(on)} must be "
                f"exactly the primary key columns {list(pks)} in pk order "
                "(the bucket hash runs over the pk columns)"
            )
    lb = int(lschema.get("options", {}).get("bucket", "4"))
    rb = int(rschema.get("options", {}).get("bucket", "4"))
    if lb != rb:
        raise ValueError(
            f"colocated join: bucket counts differ (left {lb}, right {rb}) "
            "— pmod alignment needs equal counts"
        )
    lt, rt = _field_types(lschema), _field_types(rschema)
    for a, b in zip(lon, ron):
        if lt[a].lower() != rt[b].lower():
            raise ValueError(
                f"colocated join: key type mismatch {a}:{lt[a]} vs "
                f"{b}:{rt[b]} — xxhash64 is type-dependent, so equal "
                "values in different types land in different buckets"
            )
    # Partition layout must ALIGN, not just exist: splits pair on the
    # partition-value dict (keyed by column name), so the two sides'
    # partition columns must be the same join-key columns under the
    # left_on<->right_on renaming — otherwise no left key ever equals a
    # right key and the join silently degenerates (all-null left join /
    # empty inner join).
    ren = dict(zip(ron, lon))
    lp = lschema.get("partition_keys", []) or []
    rp = rschema.get("partition_keys", []) or []
    bad = [k for k in lp if k not in lon] + [k for k in rp if k not in ron]
    if bad:
        raise ValueError(
            f"colocated join: partition columns {bad} are not join keys — "
            "bucket alignment is undefined for partitions outside the key"
        )
    if sorted(lp) != sorted(ren[k] for k in rp):
        raise ValueError(
            f"colocated join: partition layouts differ (left {lp}, right "
            f"{rp}) — splits pair per (partition, bucket), so both sides "
            "must partition by the same join-key columns (or neither)"
        )
    # pyarrow's hash join rejects nested payload columns, and the
    # empty-right-bucket fallback could not type them faithfully either.
    nested = [
        f"{side}.{f['name']}:{f['type']}"
        for side, schema in (("left", lschema), ("right", rschema))
        for f in schema["fields"]
        if _is_nested(f["type"])
    ]
    if nested:
        raise ValueError(
            f"colocated join: nested columns are not supported ({nested}) "
            "— project them away before the join"
        )


def _output_fields(lschema: dict, rschema: dict, ron: list[str]):
    """Output column spec: all left fields, then right non-key fields
    (collisions with ANY left name suffixed ``_r`` — mirrors pyarrow's
    ``right_suffix`` behavior so the joined table's names match)."""
    left_names = [f["name"] for f in lschema["fields"]]
    out = [(f["name"], f["name"], f["type"]) for f in lschema["fields"]]
    for f in rschema["fields"]:
        if f["name"] in ron:
            continue
        name = f["name"] + "_r" if f["name"] in left_names else f["name"]
        out.append((name, name, f["type"]))
    return out


class ColocatedSplit(InputPartition):
    def __init__(self, left, right, left_on, right_on, how, rschema, out):
        self.left = left            # PaimonPartition
        self.right = right          # PaimonPartition | None (left join)
        self.left_on = left_on
        self.right_on = right_on
        self.how = how
        self.rschema = rschema      # right table schema (for empty side)
        self.out = out              # output (name, name, type) triples


#: pyspark versions whose Python-DataSource planner behavior has been
#: VERIFIED against the bucket-pin safety envelope documented in
#: ``partitions()`` below (fresh reader per pushdown invocation; filterless
#: replans never reuse a pushFilters-bearing reader without re-pushing).
#: After any dependency bump: run ``tests/test_pushdown_reuse.py`` (the
#: tripwire for the upstream stale-plan-replay hazard, see
#: ``docs/upstream-spark-pushdown-reuse.md``) and, if green, append the new
#: version here. An UNVERIFIED version fails loudly at plan time instead of
#: risking a silently dropped bucket.
_VERIFIED_PYSPARK: tuple[str, ...] = ("4.1.2",)


def _require_verified_pyspark() -> None:
    import pyspark

    if pyspark.__version__ not in _VERIFIED_PYSPARK:
        raise RuntimeError(
            f"colocated bucket join: pyspark {pyspark.__version__} has not "
            "been verified against the bucket-pin planner-behavior envelope "
            f"(verified: {', '.join(_VERIFIED_PYSPARK)}). Run tests/"
            "test_pushdown_reuse.py and extend sources/colocated.py::"
            "_VERIFIED_PYSPARK if it passes."
        )


class ColocatedJoinReader(DataSourceReader):
    def __init__(self, options: dict):
        _require_verified_pyspark()
        self.left_on = [c.strip() for c in options["left_on"].split(",")]
        self.right_on = [
            c.strip() for c in options.get("right_on", options["left_on"]).split(",")
        ]
        self.how = options.get("how", "inner")
        if self.how not in _HOW:
            raise ValueError(f"colocated join: how must be one of {list(_HOW)}")
        lschema, self.lparts = _plan_side(options, "left")
        rschema, self.rparts = _plan_side(
            options, "right", rename=dict(zip(self.right_on, self.left_on))
        )
        _validate(lschema, rschema, self.left_on, self.right_on)
        self.rschema = rschema
        self.out = _output_fields(lschema, rschema, self.right_on)
        self._n_buckets = int(lschema.get("options", {}).get("bucket", "4"))
        self._key_types = {
            c: _field_types(lschema)[c] for c in self.left_on
        }
        self._pinned: dict = {}

    def pushFilters(self, filters):
        """Advisory pushdown: an equality on EVERY join-key column pins
        the row's bucket (the write layout hashed exactly these columns),
        so a point lookup on the joined view plans ONE split instead of
        one per bucket. All filters are returned — Spark re-applies them
        (same contract as ``PaimonReader.pushFilters``).

        The reader instance OUTLIVES one scan (Spark holds it per
        relation, in a long-lived worker), so the pin must be rebuilt
        from THIS scan's filters — round-9 fix: accumulating across calls
        let a pinned lookup leak its bucket prune into a later full scan
        of the same DataFrame handle, silently dropping the other N-1
        buckets' rows."""
        from pyspark.sql.datasource import EqualTo

        self._pinned = {}
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[-1] in self.left_on
            ):
                self._pinned[f.attribute[-1]] = f.value
        return iter(filters)

    def partitions(self) -> Sequence[ColocatedSplit]:
        # The pin survives this call: pushFilters already rebuilds it per
        # scan (the round-9 leak fix), and a retry/speculative replan that
        # invokes partitions() twice within ONE filtered planning must see
        # the same 1-split plan both times — consuming the pin here would
        # make the second call plan all N splits (data still correct,
        # filters re-applied, but the pinned_splits==1 gates would flake).
        # SAFETY ENVELOPE under pinned pyspark 4.1.2: filtered plannings
        # always run pushFilters first (pin fresh); filterless plannings
        # either replay the handle's cached plan (partitions() not
        # called) or run on a NEW reader (pin empty); pushdown-disabled
        # sessions never set a pin. CONTINGENCY: if an upstream fix ever
        # re-plans filterless actions through a REUSED reader without
        # calling pushFilters, retention would leak the prune into an
        # unfiltered scan — that same fix flips
        # tests/test_pushdown_reuse.py::test_upstream_stale_reuse, which
        # is the tripwire to revisit this (revert to consume-once or
        # key the pin to a planning epoch).
        pinned = self._pinned
        target_bucket = None
        if set(pinned) == set(self.left_on):
            from paimon_presto_spark.functions.xxhash import spark_bucket

            try:
                target_bucket = spark_bucket(
                    self._n_buckets,
                    [
                        (pinned[c], self._key_types[c])
                        for c in self.left_on
                    ],
                )
            except TypeError:
                # key type outside spark_xxhash64's replicated set (e.g.
                # double/timestamp — the table layer buckets those via
                # F.xxhash64 on the JVM): skip the prune, never fail the
                # query — Spark re-applies every filter anyway
                target_bucket = None
        splits = []
        for key, lp in self.lparts.items():
            if target_bucket is not None and key[1] != target_bucket:
                continue  # key-pinned point lookup: one bucket holds it
            rp = self.rparts.get(key)
            if rp is None and self.how == "inner":
                continue  # inner join: a bucket with no right rows is empty
            splits.append(
                ColocatedSplit(
                    lp, rp, self.left_on, self.right_on, self.how,
                    self.rschema, self.out,
                )
            )
        # right-only buckets contribute nothing under inner/left join
        return splits or [
            ColocatedSplit(
                PaimonPartition(None, [], None, {"fields": []}),
                None, self.left_on, self.right_on, self.how,
                self.rschema, self.out,
            )
        ]

    def read(self, split: ColocatedSplit):
        import pyarrow as pa

        left = read_split_arrow(split.left)
        if left is None:
            return iter(())
        if split.right is not None:
            right = read_split_arrow(split.right)
        else:
            right = None
        if right is None:
            cols, names = [], []
            for f in split.rschema["fields"]:
                names.append(f["name"])
                cols.append(
                    pa.array([], type=_arrow_type(f["type"]) or pa.string())
                )
            right = pa.table(dict(zip(names, cols)))
        joined = left.join(
            right,
            keys=split.left_on,
            right_keys=split.right_on,
            join_type=_HOW[split.how],
            right_suffix="_r",
        )
        joined = joined.select([name for name, _, _ in split.out])
        if joined.num_rows == 0:
            return iter(())
        return iter(joined.to_batches(max_chunksize=4096))


class ColocatedJoinDataSource(DataSource):
    """``spark.read.format("paimon_colocated").option("left", a.path)
    .option("right", b.path).option("left_on", "k").load()`` — or use
    ``colocated_join()`` below."""

    @classmethod
    def name(cls) -> str:
        return "paimon_colocated"

    def schema(self) -> str:
        lschema = _side_schema(self.options, "left")
        rschema = _side_schema(self.options, "right")
        lon = [c.strip() for c in self.options["left_on"].split(",")]
        ron = [
            c.strip()
            for c in self.options.get("right_on", self.options["left_on"]).split(",")
        ]
        _validate(lschema, rschema, lon, ron)
        out = _output_fields(lschema, rschema, ron)
        return ", ".join(f"`{n}` {spark_ddl_type(t)}" for n, _, t in out)

    def reader(self, schema) -> ColocatedJoinReader:
        return ColocatedJoinReader(self.options)


def colocated_join(spark, left, right, left_on, right_on=None, how="inner"):
    """Shuffle-free bucket-aligned join of two co-bucketed pk tables.

    ``left`` / ``right``: Table objects or table paths. ``left_on`` /
    ``right_on``: join key column lists (must equal each side's primary
    keys). Returns a DataFrame whose plan contains NO join node and NO
    Exchange — one scan task per bucket performs the merge-on-read of
    both sides plus the arrow hash join.
    """
    lp = getattr(left, "path", left)
    rp = getattr(right, "path", right)
    if isinstance(left_on, str):
        left_on = [left_on]
    right_on = left_on if right_on is None else right_on
    if isinstance(right_on, str):
        right_on = [right_on]
    # Belt-and-braces: ColocatedJoinReader implements pushFilters(), which
    # Spark refuses to initialize unless this conf (default FALSE) is on.
    # tune_session() also sets it, but a caller holding a raw session must
    # not hit [DATA_SOURCE_PUSHDOWN_DISABLED] for a conf nobody told them
    # about — the conf is runtime-settable, so set it here too.
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # pragma: no cover - conf may be static in odd envs
        pass
    spark.dataSource.register(ColocatedJoinDataSource)
    return (
        spark.read.format("paimon_colocated")
        .option("left", lp)
        .option("right", rp)
        .option("left_on", ",".join(left_on))
        .option("right_on", ",".join(right_on))
        .option("how", how)
        .load()
    )
