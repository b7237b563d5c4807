"""Spark Python DataSource for the table format: ``spark.read.format("paimon")``.

This is the DataSource-API face of the engine (the architecture the
reference implements against Presto's connector SPI — handle resolution
`PrestoMetadata.java:133-165`, split planning `PrestoSplitManager.java:46-82`,
per-split readers `PrestoPageSourceProvider.java:43-86` — re-expressed on
Spark's `pyspark.sql.datasource` SPI):

- ``PaimonDataSource.schema``   — table resolution from the warehouse path
  through a Spark-less ``Table`` (no SparkSession needed on the planner
  hook). The declared schema is ``TableScan.render_schema``: the latest
  schema for current reads, the snapshot's schema for time travel
  (``snapshot`` / ``tag`` / ``as-of-timestamp-ms``) — the same rule
  ``Table.to_df`` renders with, so declared and emitted columns agree.
- ``PaimonReader.pushFilters``  — receives Catalyst's pushed filters,
  converts the supported subset (=, <, <=, >, >=, IN, IS [NOT] NULL — the
  exact set of ``PrestoFilterConverter.java:71-186``) into our structured
  predicate. All filters are RETURNED to Spark so it re-applies them —
  advisory pushdown, like the reference keeping the Filter node
  (`PrestoComputePushdown.java:283-284`).
- ``PaimonReader.partitions``   — planning is ``TableScan.plan_files``
  (snapshot selection, partition pruning, stats and bloom-filter file
  skipping, the primary-key skip-safety rule); the reader only groups
  the surviving files into splits: one per (partition, bucket) for
  primary-key tables, one per file for append-only tables, each with its
  subset of the deletion-vector index.
- ``PaimonReader.read``         — pyarrow scan per split, yielding Arrow
  RecordBatches in the render schema; primary-key groups are merged IN
  the split (Arrow, ``_merge_arrow``), which is the **shuffle-free
  merge-on-read**: bucketed writes guarantee every version of a key
  lives in one bucket, so the merge never crosses split boundaries.
  (The DataFrame-path ``Table.to_df`` merges with a window over a
  shuffle instead; this reader is the bucket-aligned variant SURVEY §7
  risk 5 calls for.)
- ``PaimonStreamReader``        — snapshot-id offsets over
  ``Table.commit_walk``, the commit walk ``Table.incremental_df`` uses.
- ``PaimonWriter``              — task-parallel writes: append/overwrite
  for plain tables, upsert/delete (``option("rowkind", "D")``) for
  primary-key tables. Each task takes Spark's Arrow batches (a
  ``DataSourceArrowWriter``: no Rows, no pandas), writes parquet files +
  footer stats and reports manifest entries in its commit message; the
  driver-side ``commit`` publishes the snapshot through ``Table._commit``,
  the one commit path of the package (A22 semantics). Bucket
  assignment uses ``functions/xxhash.spark_bucket`` — a pure-Python XXH64
  bit-identical to the JVM ``pmod(xxhash64(pks), n)`` — so DataSource and
  Table-API writes interleave on one table with a consistent bucket layout.

KNOWN UPSTREAM HAZARD (Spark 4.1.2, pinned by tests/test_pushdown_reuse
.py): Spark caches a Python data source's planned partitions per
``.load()`` handle and re-runs pushdown planning only when the current
query carries a convertible filter — so on a REUSED handle, a filterless
scan silently reuses the last filtered scan's PRUNED plan and drops rows.
Use one ``.load()`` per query (``Table.to_df()`` and ``colocated_join()``
already do); never cache and re-filter one handle.

Scale: planning cost is manifest-bounded (driver), reads are Arrow-batched
per task, and the number of input partitions = buckets × partitions, the
same parallelism contract Paimon gives its engines.
"""

from __future__ import annotations

import decimal
import json
import os
import uuid
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from paimon_presto_spark.plans.predicate import P, Predicate
from paimon_presto_spark.table import (
    HIVE_DEFAULT_PARTITION,
    KIND_COL,
    PART_DIR_PREFIX,
    POS_COL,
    SEQ_COL,
    SYS_COLS,
    CommitConflict,
    MergeSpec,
    Snapshot,
    Table,
    TableScan,
    TableSchema,
    _CHAR_TYPES_RE,
    _char_len,
    _footer_stats,
    _is_time_type,
    _next_id,
    _statable,
    _varchar_len,
    merge_spec,
    split_ddl_fields,
)


def _table(options: dict) -> Table:
    """The lineage the options name — the table dir, or its
    ``option("branch")`` fork — as a Spark-less ``Table``. Every schema,
    snapshot and manifest read and every commit of this module goes
    through it, so the DataSource and the DataFrame API share one read
    planner and one commit protocol (data files always stay under the
    table dir)."""
    t = Table(None, options["path"])
    branch = options.get("branch")
    t = t.branch(branch) if branch else t
    fmt = t.schema().options.get("file.format", "parquet")
    if fmt not in ("parquet", "orc", "avro"):
        # The per-split readers are pyarrow parquet/orc plus the
        # pure-Python avro codec — the full declared option surface
        # (PrestoSqlTableOptionUtils.java:111-112 FileFormatType).
        raise NotImplementedError(
            f"paimon DataSource supports file.format=parquet, orc or avro"
            f" (table has {fmt!r})"
        )
    return t


def _scan(options: dict, predicate: Predicate | None = None) -> TableScan:
    """The ``TableScan`` a batch read's options name: ``snapshot``,
    ``tag`` or ``as-of-timestamp-ms`` time travel (mutually exclusive,
    checked by ``Table.scan``) over the ``_table`` lineage."""

    def opt_int(key: str) -> int | None:
        return int(options[key]) if key in options else None

    return _table(options).scan(
        predicate,
        snapshot_id=opt_int("snapshot"),
        as_of_timestamp_ms=opt_int("as-of-timestamp-ms"),
        tag=options.get("tag"),
    )


def _arrow_type(ddl: str):
    """DDL type string → pyarrow type, nested types included, matching the
    file schema ``table._file_schema`` declares (CHAR/VARCHAR as string,
    TIME as int64). None for a type with no mapping here: the column keeps
    the type the file or the inference gives it."""
    import pyarrow as pa

    t = ddl.strip().lower()
    if t.endswith(">"):
        inner = ddl.strip()[t.index("<") + 1 : -1]
        if t.startswith("array<"):
            elem = _arrow_type(inner)
            return pa.list_(elem) if elem is not None else None
        if t.startswith("map<"):
            depth = 0
            for i, ch in enumerate(inner):
                depth += (ch in "<(") - (ch in ">)")
                if ch == "," and depth == 0:
                    k, v = _arrow_type(inner[:i]), _arrow_type(inner[i + 1 :])
                    return pa.map_(k, v) if None not in (k, v) else None
        if t.startswith("struct<"):
            fields = [(n, _arrow_type(ft)) for n, ft in split_ddl_fields(inner)]
            if all(ft is not None for _, ft in fields):
                return pa.struct(fields)
        return None
    if _char_len(t) is not None or _varchar_len(t) is not None:
        return pa.string()
    simple = {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp_ntz": pa.timestamp("us"),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    if t in simple:
        return simple[t]
    # TIME = micros-since-midnight bigint (table._parse_type convention;
    # single source of truth for the pattern is table._is_time_type)
    if _is_time_type(t):
        return pa.int64()
    if t.startswith("decimal"):
        p, s = t[t.index("(") + 1 : -1].split(",")
        return pa.decimal128(int(p), int(s))
    return None


_SYS_DDL = {SEQ_COL: "bigint", POS_COL: "bigint", KIND_COL: "string"}


def _cast_to_schema(tbl, schema: dict, writing: bool = False):
    """Cast an arrow table's columns to the table's declared types so Spark
    receives exactly the schema it planned for (files written by different
    engines may use wider physical types, e.g. int64 for an int column).

    ``writing=True`` additionally applies WRITE-side constraints — CHAR(n)
    blank-padding and the VARCHAR(n) bound. Reads must NOT enforce them:
    pre-existing files (foreign writers, pre-constraint data) would make
    the whole table unreadable, and the DataFrame read path (Table.to_df)
    applies no such check either.
    """
    import pyarrow as pa

    ddl = {f["name"]: f["type"] for f in schema["fields"]} | _SYS_DDL
    fields = []
    for name in tbl.column_names:
        at = _arrow_type(ddl.get(name, ""))
        fields.append(
            pa.field(name, at if at is not None else tbl.schema.field(name).type)
        )
    tbl = tbl.cast(pa.schema(fields))
    if not writing:
        return tbl
    # CHAR(n) blank-padding and VARCHAR(n) bound enforcement, sharing the
    # DDL parsers with the DataFrame write path (table._char_len /
    # _varchar_len are the single source of truth for the bound rules)
    import pyarrow.compute as pc

    for name, t in ddl.items():
        if name not in tbl.column_names:
            continue
        cn = _char_len(t)
        if cn is not None:
            idx = tbl.column_names.index(name)
            tbl = tbl.set_column(
                idx, name, pc.utf8_rpad(tbl.column(name), cn, " ")
            )
        n = _varchar_len(t)
        if n is not None:
            longest = pc.max(pc.utf8_length(tbl.column(name))).as_py()
            if longest is not None and longest > n:
                raise ValueError(
                    f"value too long for type varchar({n}) in column {name!r} "
                    f"(max length {longest})"
                )
    return tbl


def _filters_to_predicate(filters: Sequence[Filter]) -> Predicate | None:
    """Convert Spark's pushed filters (ANDed) to our predicate AST.

    Unsupported shapes are skipped — they stay Spark-side, which is safe
    because pushdown here is advisory (the same contract as the reference's
    ``UnsupportedOperationException`` catch, ``PrestoFilterConverter
    .java:87-90``).
    """
    parts: list[Predicate] = []
    for f in filters:
        try:
            col = f.attribute[-1]  # ColumnPath tuple; nested refs unsupported
            if len(f.attribute) != 1:
                continue
            if isinstance(f, EqualTo):
                parts.append(P.eq(col, f.value))
            elif isinstance(f, GreaterThan):
                parts.append(P.gt(col, f.value))
            elif isinstance(f, GreaterThanOrEqual):
                parts.append(P.gte(col, f.value))
            elif isinstance(f, LessThan):
                parts.append(P.lt(col, f.value))
            elif isinstance(f, LessThanOrEqual):
                parts.append(P.lte(col, f.value))
            elif isinstance(f, In):
                parts.append(P.in_(col, list(f.values)))
            elif isinstance(f, IsNull):
                parts.append(P.is_null(col))
            elif isinstance(f, IsNotNull):
                parts.append(P.not_null(col))
            elif isinstance(f, StringStartsWith):
                parts.append(P.starts_with(col, f.value))
        except Exception:
            continue
    if not parts:
        return None
    pred = parts[0]
    for p in parts[1:]:
        pred = pred & p
    return pred


class PaimonPartition(InputPartition):
    def __init__(
        self,
        table: Table | None,  # Spark-less lineage: writer schemas load from it
        files: list[tuple[str, int]],  # (absolute path, writer schema_id)
        merge: MergeSpec | None,
        schema: dict,
        dv: dict[str, list[int]] | None = None,  # abs path -> deleted row positions
    ):
        self.table = table
        self.files = files
        self.merge = merge  # None for append-only
        self.schema = schema  # the scan's render schema JSON
        self.dv = dv


class PaimonReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.path = options["path"]  # data root
        self.predicate: Predicate | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self.predicate = _filters_to_predicate(filters)
        # Return ALL filters: Spark re-applies them (advisory pushdown); we
        # only use them to shrink the file list.
        return iter(filters)

    def plan_splits(
        self, rename: dict[str, str] | None = None
    ) -> tuple[dict, dict[Any, PaimonPartition]]:
        """(render schema JSON, {split key: PaimonPartition}).

        ``TableScan.plan_files`` selects the snapshot and prunes the file
        list (partitions, stats, bloom filters); this only groups the
        surviving files into splits and hands each split its subset of
        the deletion-vector index. Primary-key tables get one split per
        ``(partition JSON, bucket)``, append-only tables one per file.
        ``rename`` maps partition column names before the key is
        serialized (the co-located join pairs two tables' splits)."""
        scan = _scan(self.options, self.predicate)
        render = scan.render_schema()
        merge = merge_spec(render)
        schema = render.to_json()
        entries = scan.plan_files()
        snap = scan._snapshot()
        dv_map = dv_index_map(self.path, snap) if snap is not None else {}
        pks = schema["primary_keys"]
        groups: dict[Any, list[tuple[str, int]]] = {}
        for e in entries:
            if pks:
                part = e["partition"]
                if rename:
                    part = {rename.get(k, k): v for k, v in part.items()}
                key = (json.dumps(part, sort_keys=True), e["bucket"])
            else:
                key = e["path"]
            groups.setdefault(key, []).append(
                (os.path.join(self.path, e["path"]), e["schema_id"])
            )
        splits = {
            key: PaimonPartition(
                scan.table, files, merge, schema,
                {f: dv_map[f] for f, _ in files if f in dv_map} or None,
            )
            for key, files in groups.items()
        }
        return schema, splits

    def partitions(self) -> Sequence[PaimonPartition]:
        schema, splits = self.plan_splits()
        return list(splits.values()) or [PaimonPartition(None, [], None, schema)]

    def read(self, partition: PaimonPartition):
        tbl = read_split_arrow(partition)
        if tbl is None:
            return iter(())
        return iter(tbl.to_batches(max_chunksize=4096))


def dv_index_map(data_root: str, snap: Snapshot) -> dict[str, list[int]]:
    """Deletion-vector index → {absolute data path: deleted positions}.

    Per-file deleted positions, handed to each split so the reader drops
    them at scan time (plays the reference page-source position filter;
    the index is small — planner-side read is a metadata read, like the
    manifest itself). Shared by ``PaimonReader.partitions`` and the
    co-located join planner (``sources/colocated.py``)."""
    if not snap.dv_index:
        return {}
    return {
        os.path.join(data_root, p): pos
        for p, pos in _dv_positions(data_root, snap.dv_index).items()
    }


def read_split_arrow(partition: PaimonPartition):
    """One (partition, bucket) split → a fully merged pyarrow Table in the
    split's render schema (or None for an empty split). This is the executor-side
    read path shared by ``PaimonReader`` and the co-located bucket join
    (``sources/colocated.py``): field-id projection across writer schemas,
    deletion-vector position drops, merge-on-read, schema cast."""
    import pyarrow as pa

    schema = partition.schema
    names = [f["name"] for f in schema["fields"]]
    if not partition.files:
        return None
    # field-id projection: files written under older schemas render
    # through the render schema (renames follow the id, dropped
    # columns vanish, added columns null-fill) — the A18 contract,
    # same as table._project_to on the DataFrame path
    writer_schemas = {
        sid: partition.table.schema(sid).to_json()
        for sid in {sid for _, sid in partition.files}
    }

    def read_one(f: str):
        t = _read_arrow_file(f)
        dead = (partition.dv or {}).get(f)
        if dead:
            import numpy as np

            mask = np.ones(t.num_rows, dtype=bool)
            mask[dead] = False  # drop deletion-vector positions at scan
            t = t.filter(pa.array(mask))
        return t

    tables = [
        _project_arrow(read_one(f), writer_schemas[sid], schema)
        for f, sid in partition.files
    ]
    tbl = pa.concat_tables(tables, promote_options="permissive")
    if partition.merge is not None:
        tbl = _merge_arrow(tbl, partition.merge)
    tbl = tbl.select([n for n in names if n in tbl.column_names])
    return _cast_to_schema(tbl, schema)


def _read_arrow_file(f: str):
    """Data file → pyarrow Table. Parquet and ORC ride pyarrow's native
    readers; .avro files (``file.format=avro`` tables) decode through the
    pure-Python container codec (``avroio.read_arrow``, the decoder the
    DataFrame read path runs too) — per-split parallelism is identical,
    and column names/values match what the writer staged, so downstream
    field-id projection and merge are format-blind."""
    import pyarrow.parquet as pq

    if f.endswith(".orc"):
        import pyarrow.orc as po

        return po.read_table(f)
    if not f.endswith(".avro"):
        return pq.read_table(f)
    from paimon_presto_spark.sources import avroio

    return avroio.read_arrow(f)


def _project_arrow(tbl, writer_schema: dict, reader_schema: dict):
    """Project a file written under `writer_schema` to `reader_schema` by
    field id (arrow twin of ``table._project_to``)."""
    import pyarrow as pa

    by_id = {f["id"]: f for f in writer_schema["fields"]}
    n = tbl.num_rows
    cols, names = [], []
    for f in reader_schema["fields"]:
        w = by_id.get(f["id"])
        target = _arrow_type(f["type"])
        if w is not None and w["name"] in tbl.column_names:
            col = tbl.column(w["name"])
            if target is not None:
                col = col.cast(target)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, type=target or pa.string()))
        names.append(f["name"])
    for c in SYS_COLS:
        if c in tbl.column_names:
            cols.append(tbl.column(c))
            names.append(c)
    return pa.table(dict(zip(names, cols)))


def _merge_arrow(tbl, spec: MergeSpec):
    """Per-bucket merge-on-read in Arrow: ``table._merge_on_read`` under
    the same ``MergeSpec`` for one bucket's change rows (no shuffle —
    every version of a key is in this bucket by the write-side hash
    contract). No pandas round trip, so NULL stays apart from NaN and
    int64 stays exact. A merged value is the last (or first) row of its
    key, in an Arrow sort that orders NULL first and NaN above every
    number as Spark does, or an Arrow hash aggregate (sum, float product,
    count, bool_and, bool_or). A merged value that leaves its declared
    type raises, as in Spark under ANSI."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if spec.engine != "deduplicate":  # every other engine ignores deletes
        tbl = tbl.filter(pc.not_equal(tbl[KIND_COL], "D"))
    n = tbl.num_rows
    rows = np.arange(n)
    keys = tbl.select(list(spec.keys)).append_column("__i", pa.array(rows))
    groups = keys.group_by(list(spec.keys), use_threads=False).aggregate(
        [("__i", "list")])
    n_groups = groups.num_rows
    gid = np.empty(n, np.int64)  # row -> its key's group
    gid[pc.list_flatten(groups["__i_list"]).to_numpy()] = np.repeat(
        np.arange(n_groups), pc.list_value_length(groups["__i_list"]).to_numpy())

    def order(*cols):
        sort = {}
        for i, c in enumerate(cols):
            sort[f"n{i}"], sort[f"v{i}"] = pc.is_valid(tbl[c]), tbl[c]
        return pc.sort_indices(
            pa.table(sort), [(k, "ascending") for k in sort]).to_numpy()

    def pick(ordered, mask=None, first=False):
        """Per key, its row among `mask`'s that comes last (first) in
        `ordered`; a null index for a key with none."""
        rank = np.empty(n, np.int64)
        rank[ordered] = rows
        sel = rows if mask is None else np.flatnonzero(mask)
        best = np.full(n_groups, n if first else -1)
        (np.minimum if first else np.maximum).at(best, gid[sel], rank[sel])
        none = (best < 0) | (best >= n)
        return pa.array(ordered[np.where(none, 0, best)], mask=none)

    latest = order(*spec.sequence_fields, SEQ_COL, POS_COL)
    if spec.engine in ("deduplicate", "first-row"):
        tbl = tbl.take(pick(latest, first=spec.engine == "first-row"))
        return tbl.filter(pc.not_equal(tbl[KIND_COL], "D"))
    hashed = {"sum": "sum", "product": "product", "count": "count",
              "bool_and": "all", "bool_or": "any"}
    out = {k: groups[k] for k in spec.keys}
    for c in spec.values:
        v = tbl[c]
        fn, s = spec.function(c)
        valid = pc.is_valid(v).to_numpy(zero_copy_only=False)
        ordered = latest
        if s is not None:  # a sequence group's member
            valid = valid & pc.is_valid(tbl[s]).to_numpy(zero_copy_only=False)
            ordered = order(s, SEQ_COL, POS_COL)
        picks = {"last_non_null": (ordered, valid, False),
                 "first_non_null": (ordered, valid, True),
                 "last_value": (latest, None, False),
                 "first_value": (latest, None, True)}
        if fn in ("max", "min"):
            out[c] = v.take(pick(order(c), valid, fn == "min"))
        elif fn in picks:
            out[c] = v.take(pick(*picks[fn]))
        elif fn in hashed and (fn != "product" or pa.types.is_floating(v.type)):
            if fn == "sum" and not pa.types.is_floating(v.type):
                # Arrow's int64 and decimal sums wrap: sum in 38 digits
                # and narrow back with an overflow check, as Spark does
                v = v.cast(pa.decimal128(38, getattr(v.type, "scale", 0)))
            agg = pa.table({"g": gid, "v": v}).group_by(
                "g", use_threads=False).aggregate([("v", hashed[fn])])
            out[c] = _narrow(agg[f"v_{hashed[fn]}"].take(
                pc.sort_indices(agg["g"])), tbl[c].type, c)
        else:  # listagg, collect, merge_map, exact product
            by_key = [[] for _ in range(n_groups)]
            py = v.to_pylist()
            for i in latest:
                if py[i] is not None:
                    by_key[gid[i]].append(py[i])
            folded = [_fold(fn, vals, c in spec.distinct, v.type) for vals in by_key]
            wide = pa.int64() if pa.types.is_integer(v.type) else v.type
            out[c] = _narrow(pa.array(folded, type=wide), v.type, c)
    return pa.table(out)


def _narrow(arr, typ, column: str):
    """`arr` cast to the declared `typ`; a value that does not fit raises,
    as Spark's ANSI arithmetic does."""
    import pyarrow as pa

    try:
        return arr.cast(typ)
    except (pa.ArrowInvalid, OverflowError) as e:
        raise ArithmeticError(
            f"[ARITHMETIC_OVERFLOW] merged column {column!r} overflows {typ}: {e}"
        ) from e


def _fold(fn: str, vals: list, distinct: bool, typ):
    """One key's non-null values, in commit order, folded under `fn`
    (Spark's ``_merge_column`` twin); None when there are none."""
    if not vals:
        return None
    if fn == "product":
        # exact: a decimal rounds to its scale at each step, an integer
        # stays in bigint, as Spark's product does
        scale = getattr(typ, "scale", None)
        out, q = decimal.Decimal(1), decimal.Decimal(1).scaleb(-(scale or 0))
        with decimal.localcontext(prec=80):
            for x in vals:
                out = (out * x).quantize(q, decimal.ROUND_HALF_UP)
                if scale is None and not -(1 << 63) <= out < 1 << 63:
                    raise ArithmeticError(
                        f"[ARITHMETIC_OVERFLOW] product overflows bigint: {out}")
        return out if scale is not None else int(out)
    if fn == "listagg":
        return ",".join(vals)
    if fn == "collect":
        flat = [x for arr in vals for x in arr]
        # repr keys: NaN repeats are one value, as in array_distinct
        return list({repr(x): x for x in flat}.values()) if distinct else flat
    merged: dict = {}
    for m in vals:  # merge_map; arrow maps render as [(k, v), ...]
        merged.update(m)
    return list(merged.items())


def split_groups(tbl, cols: list[str]):
    """Yield ({column: directory value}, rows) for each distinct value
    combination of `cols` in the Arrow table `tbl`, in order of first
    appearance. Values render as Spark's ``CAST(... AS STRING)`` and
    ``partitionBy`` do for partition types (``true``, ``3``, ``1.0``,
    ``2024-01-02``; NULL as ``HIVE_DEFAULT_PARTITION``), so a file lands
    in the directory the JVM writer would pick. The one row splitter of
    the Python writers: the DataSource writer and the avro writer."""
    import numpy as np
    import pyarrow as pa

    if not cols:
        yield {}, tbl
        return
    groups = (
        tbl.select(cols)
        .append_column("__i", pa.array(np.arange(tbl.num_rows)))
        .group_by(cols, use_threads=False)
        .aggregate([("__i", "list")])
    )
    values = {}
    for c in cols:
        col = groups[c]
        if pa.types.is_floating(col.type):  # Spark's 1.0, not Arrow's 1
            rendered = [None if v is None else str(v) for v in col.to_pylist()]
        else:
            rendered = col.cast(pa.string()).to_pylist()
        values[c] = [HIVE_DEFAULT_PARTITION if v is None else v for v in rendered]
    for i, rows in enumerate(groups["__i_list"]):
        yield {c: values[c][i] for c in cols}, tbl.take(rows.values)


def _buckets(tbl, schema: dict):
    """Each row's bucket in `schema`'s fixed-bucket primary-key table
    (``functions/xxhash.spark_bucket``, the JVM's ``_fixed_bucket``): a
    date hashes its days, a timestamp its micros since the epoch."""
    import pyarrow as pa

    from paimon_presto_spark.functions.xxhash import spark_bucket

    types = {f["name"]: f["type"] for f in schema["fields"]}
    keys = []
    for k in schema["primary_keys"]:
        col = tbl[k]
        if pa.types.is_temporal(col.type):
            col = col.cast(pa.int32() if pa.types.is_date32(col.type) else pa.int64())
        keys.append(col.to_pylist())
    nb = int(schema.get("options", {}).get("bucket", "4"))
    pk_types = [types[k] for k in schema["primary_keys"]]
    return pa.array(
        [spark_bucket(nb, list(zip(vals, pk_types))) for vals in zip(*keys)],
        pa.int32(),
    )


class PaimonCommitMessage(WriterCommitMessage):
    def __init__(self, entries: list[dict], base: Snapshot | None):
        self.entries = entries
        # the snapshot the task's rows were stamped on top of: its rows
        # carry __seq = the next id, so the batch must publish at exactly
        # that id
        self.base = base


class PaimonWriter(DataSourceArrowWriter):
    """Task-parallel writes: append/overwrite for plain tables, upsert (or
    delete via ``option("rowkind", "D")``) for primary-key tables.

    Each task takes Spark's Arrow batches as they come (timestamps
    time-zone aware, int64 exact, NaN apart from NULL), casts them once
    to the declared types (``_cast_to_schema``), splits the rows by
    (partition, bucket) with ``split_groups`` and writes each group as
    one parquet file (footer stats from ``table._footer_stats``, as the
    Table API records them) into a staging dir, reporting manifest
    entries; ``commit`` moves files into
    ``data/`` and commits them through ``Table._commit`` — the same
    manifest write, hard-link snapshot publish, auto-tagging and snapshot
    retention as every Table-API commit. Primary-key rows carry
    (``__seq``, ``__pos``, ``__row_kind``) and land in the bucket
    directory chosen by ``functions/xxhash.spark_bucket`` — bit-identical
    to the JVM write path's ``pmod(xxhash64(pks), n)``, so DataSource and
    Table-API writes interleave safely on one table. The base snapshot (the latest) is
    captured at writer construction and the rows are stamped for the id
    after it; if a racing commit claims that id first, ``commit`` raises
    ``CommitConflict``.
    """

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]  # data root
        self.table = _table(options)
        self.meta = self.table.meta_path
        self.overwrite = overwrite
        schema = self.table.schema().to_json()
        if schema.get("options", {}).get("file.format", "parquet") != "parquet":
            raise NotImplementedError(
                "paimon DataSource writes parquet only; write avro tables "
                "via paimon_presto_spark.Catalog (Table.append/upsert)"
            )
        self.schema = schema
        self.pks = schema.get("primary_keys", [])
        self.row_kind = options.get("rowkind", "I")
        if self.row_kind not in ("I", "D"):
            raise ValueError("rowkind must be 'I' or 'D'")
        # per-row kinds from a column of the written frame (the DataSource
        # twin of the table option rowkind.field — one batch mixes
        # inserts and tombstones). A table DECLARING rowkind.field gets it
        # by default: its writes are CDC batches by contract, and treating
        # a '-D' marker row as a plain insert would store the tombstone as
        # data and leave the key alive.
        self.rowkind_field = options.get("rowkind-field") or schema.get(
            "options", {}
        ).get("rowkind.field")
        if self.rowkind_field is not None:
            if not self.pks:
                raise ValueError("rowkind-field requires a primary-key table")
            if "rowkind" in options:
                raise ValueError("rowkind and rowkind-field are exclusive")
            names = {f["name"] for f in schema["fields"]}
            # "__row_kind" is the changelog stream's own kind column — a
            # paimon→paimon CDC pipe passes it straight through (drop UB
            # rows first: they carry pre-images, UA already replaces)
            if self.rowkind_field not in names and self.rowkind_field != "__row_kind":
                raise ValueError(
                    f"rowkind-field {self.rowkind_field!r} is not a column")
            # the Table API's rule: the combining engines' merge drops 'D'
            # rows, so a '-D' tombstone written here would silently no-op
            self.table._check_cdc_batch_supported(
                self.table.schema(), "rowkind-field")
        if (
            self.pks
            and schema.get("options", {}).get("changelog-producer") == "lookup"
        ):
            # the lookup producer needs a pre-commit key lookup against the
            # merged state; task-parallel writers can't do that, and a
            # commit WITHOUT a changelog would leave a silent hole in the
            # retraction stream every downstream consumer reads
            raise ValueError(
                "primary-key table has changelog-producer=lookup; write "
                "through Table.upsert()/delete()/merge_into() so every "
                "commit materializes its changelog"
            )
        if self.pks and overwrite:
            raise ValueError(
                "overwrite mode on a primary-key table is ambiguous; use "
                "Table.overwrite() for an explicit full replacement"
            )
        if self.pks and schema.get("options", {}).get("bucket") == "-1":
            # bucket assignment needs the key index (a join per commit);
            # the Table API owns dynamic-bucket writes
            raise ValueError(
                "primary-key table uses dynamic bucketing (bucket=-1); write "
                "through Table.upsert()/delete() so keys keep their buckets"
            )
        if (
            self.pks
            and schema.get("options", {}).get("deletion-vectors.enabled") == "true"
        ):
            # DV upserts must mark old positions in the same commit (a
            # key-lookup job); task-parallel writers can't do that, so the
            # Table API owns DV mutations
            raise ValueError(
                "primary-key table has deletion-vectors.enabled; write through "
                "Table.upsert()/delete() so the deletion-vector index stays "
                "consistent"
            )
        self._allocate_snapshot_id()
        self.staging = os.path.join(self.path, f".staging-ds-{uuid.uuid4().hex}")

    def _allocate_snapshot_id(self) -> None:
        self.base = self.table.snapshot()
        self.next_snapshot = _next_id(self.base)

    def write(self, iterator) -> PaimonCommitMessage:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        batches = list(iterator)
        tbl = pa.Table.from_batches(batches) if batches else None
        if tbl is not None and self.rowkind_field is not None:
            kind = pc.utf8_upper(tbl[self.rowkind_field].cast(pa.string()))
            # UB / -U rows are UPDATE pre-images: the UA/+U row already
            # replaces the key, and writing the pre-image (as insert OR
            # tombstone) would race it — cross-task __pos order is salted,
            # so the task-parallel writer cannot resolve within-batch
            # winners the way Table._commit_cdc_batch does. Dropping them
            # is Paimon's own pk-sink treatment of UPDATE_BEFORE; real
            # deletes arrive as -D/D.
            keep = pc.invert(pc.is_in(kind, pa.array(["UB", "-U"])))
            tbl, kind = tbl.filter(keep), kind.filter(keep)
        if tbl is None or tbl.num_rows == 0:
            return PaimonCommitMessage([], self.base)
        n = tbl.num_rows
        cols = {f["name"]: tbl[f["name"]] for f in self.schema["fields"]}
        if self.pks:
            # __pos only disambiguates same-key rows inside this commit;
            # a per-task random high word keeps it unique across tasks
            # (same role monotonically_increasing_id plays on the JVM path)
            salt = uuid.uuid4().int & 0x7FFFFFFF
            cols[SEQ_COL] = pa.array(np.full(n, self.next_snapshot, np.int64))
            cols[POS_COL] = pa.array((salt << 32) | np.arange(n, dtype=np.int64))
            cols[KIND_COL] = (
                pc.if_else(pc.is_in(kind, pa.array(["-D", "D"])), "D", "I")
                if self.rowkind_field is not None
                else pa.repeat(self.row_kind, n)
            )
        # declared types, CHAR padded and VARCHAR bounded before the
        # bucket hash, as the JVM writer pads before _fixed_bucket
        tbl = _cast_to_schema(pa.table(cols), self.schema, writing=True)
        group_by = list(self.schema.get("partition_keys", []))
        if self.pks:
            tbl = tbl.append_column("__bucket", _buckets(tbl, self.schema))
            group_by.append("__bucket")
        os.makedirs(self.staging, exist_ok=True)
        statable = _statable(self.schema["fields"])
        entries = []
        for values, sub in split_groups(tbl, group_by):
            bucket = int(values.pop("__bucket", 0))
            if self.pks:
                sub = sub.drop_columns(["__bucket"])
            name = f"data-ds-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.staging, name)
            pq.write_table(sub, dst)
            entries.append(
                {
                    "path": name,  # staged; commit() relocates
                    # absolute staged location: the streaming runner's
                    # driver-side writer instance is NOT the task's, so
                    # the message must carry where the file actually is
                    "staged": dst,
                    "partition": values,
                    "bucket": bucket,
                    "row_count": sub.num_rows,
                    "file_size": os.path.getsize(dst),
                    "schema_id": self.schema["schema_id"],
                    "stats": _footer_stats(pq.ParquetFile(dst).metadata, statable),
                }
            )
        return PaimonCommitMessage(entries, self.base)

    def commit(self, messages) -> None:
        self._publish(messages, self.base)

    def _publish(
        self, messages, base: Snapshot | None, restack: bool = False, **meta
    ) -> None:
        """Move the staged files into ``data/`` and commit them on top of
        `base`, the snapshot the tasks stamped their rows for. `restack`
        (rows without ``__seq``, appended): re-plan on whichever snapshot
        the commit lands on instead of conflicting. `meta` goes to
        ``Table._commit``."""
        sid = _next_id(base)
        entries = [e for m in messages if m for e in m.entries]
        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        final_entries = []
        staging_dirs = {self.staging}
        for e in entries:
            src = e.get("staged") or os.path.join(self.staging, e["path"])
            staging_dirs.add(os.path.dirname(src))
            parts = [
                f"{PART_DIR_PREFIX}{k}={v}"
                for k, v in sorted(e["partition"].items())
            ]
            if self.pks:
                parts.append(f"__bucket={e['bucket']}")
            sub = "/".join(parts)
            dst_dir = os.path.join(data_dir, sub) if sub else data_dir
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, e["path"])
            os.rename(src, dst)
            final_entries.append(
                {
                    **{k: v for k, v in e.items() if k != "staged"},
                    "path": os.path.relpath(dst, self.path),
                    "min_seq": sid if self.pks else 0,
                    "max_seq": sid if self.pks else 0,
                }
            )
        for d in staging_dirs:
            _rmtree(d)

        def listing(parent: Snapshot | None) -> list[dict]:
            if parent is None or self.overwrite:
                return final_entries
            return self.table.manifest_entries(parent) + final_entries

        if self.overwrite:
            kind = "OVERWRITE"
        else:
            kind = (
                ("DELETE" if self.row_kind == "D" and self.rowkind_field is None
                 else "UPSERT")
                if self.pks
                else "APPEND"
            )
        # without `restack`, CommitConflict when a racing commit claimed
        # the stamped id; appends keep the parent's deletion-vector index
        # (they never disturb existing row positions), overwrite resets it
        self.table._commit(
            base, kind, listing if restack else listing(base),
            schema=TableSchema.from_json(self.schema),
            **({"dv_index": None} if self.overwrite else {}),
            **meta,
        )

    def abort(self, messages) -> None:
        _rmtree(self.staging)


class PaimonStreamWriter(PaimonWriter, DataSourceStreamArrowWriter):
    """Streaming sink: ``df.writeStream.format("paimon")`` — every
    micro-batch is one atomic snapshot commit, stamped
    ``commit_user="stream:<query-name>"`` with the batch id as
    ``commit_identifier`` (so the query name must be unique among the
    table's stream writers): the snapshot log is the ledger, the same
    contract as ``streaming.table_sink`` but running on Spark's native
    sink protocol instead of foreachBatch. A replayed batch at or below
    the query's ``Table.latest_identifier`` has already landed: its
    staged files are discarded, not re-committed. The mark lives as long
    as the query's newest snapshot, which expiry's
    ``snapshot.num-retained.min`` (default 10) protects, as in Paimon.

    The batch writer's base snapshot moves from writer construction to
    per-batch: each task stamps ``__seq`` for the id after the latest
    snapshot it observes and reports that base in its commit message.
    ``commit`` publishes the batch at exactly that id through the same
    hard-link publish as every other commit. If the tasks' bases differ,
    or an external commit claimed the id first, the commit raises
    ``CommitConflict``, the batch fails and Spark replays it. Tables
    without primary keys stamp nothing, so their batches append on the
    latest snapshot and re-plan past racing commits, as ``Table.append``
    does.
    """

    def __init__(self, options: dict, overwrite: bool):
        super().__init__(options, overwrite=False)
        self.commit_user = f"stream:{options.get('query-name', 'default')}"

    def write(self, iterator):
        # re-resolve the target snapshot per micro-batch (the batch writer
        # pins it once at construction; a stream commits many times)
        self._allocate_snapshot_id()
        return super().write(iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        done = self.table.latest_identifier(self.commit_user)
        if done is not None and batchId <= done:
            # replay of a durable batch: drop its staged files, commit nothing
            return self.abort(messages, batchId)
        meta = {"commit_user": self.commit_user, "commit_identifier": batchId}
        bases = {m.base.snapshot_id if m.base else 0: m.base for m in messages if m}
        if not self.pks or not bases:
            # no row carries a __seq stamp: append on the latest snapshot
            self._publish(messages, self.table.snapshot(), restack=True, **meta)
        elif len(bases) > 1:
            raise CommitConflict(
                f"tasks of batch {batchId} stamped rows for different "
                f"snapshots {sorted(i + 1 for i in bases)}"
            )
        else:
            self._publish(messages, next(iter(bases.values())), **meta)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        for m in messages:
            for e in (m.entries if m else []):
                try:
                    os.remove(
                        e.get("staged") or os.path.join(self.staging, e["path"])
                    )
                except FileNotFoundError:
                    pass


class PaimonStreamPartition(InputPartition):
    def __init__(
        self,
        mode: str,  # "files" | "dvdiff"
        table: Table,
        schema: dict,
        seq: int,
        files: list[tuple[str, int]] | None = None,  # (abs path, schema_id)
        positions: dict[str, tuple[int, list[int]]] | None = None,
    ):
        self.mode = mode
        self.table = table
        self.schema = schema
        self.seq = seq
        self.files = files or []
        self.positions = positions or {}


class PaimonStreamReader(DataSourceStreamReader):
    """Snapshot-range streaming source (``spark.readStream.format("paimon")``).

    Offsets are snapshot ids — the natural exactly-once unit of this
    format: ``latestOffset`` is a driver-side metadata read, and each
    micro-batch covers the commits ``Table.commit_walk`` yields for
    ``(start, end]`` — the walk ``Table.incremental_df`` uses, so an offset
    range means the same commits as the batch change read over it (COMPACT
    commits skipped, expired parents resolved through tags). Every commit
    renders in the declared (latest) schema. Tables with
    ``changelog-producer=lookup`` stream their materialized retraction
    changelog (I/UB/UA/D); deletion-vector commits re-emit newly-deleted
    positions as D rows (a Python-set diff of the commit's DV index
    against its parent's), so consumers always see a lossless change
    stream.

    ``option("consumer-id", name)`` records progress in the table's
    consumer file at each epoch commit — retention then never expires
    unread snapshots (the same guarantee the DataFrame-path consumer
    mechanism gives; here it rides Spark's own offset commits).
    """

    def __init__(self, options: dict):
        self.path = options["path"]
        self.table = _table(options)
        self.meta = self.table.meta_path
        # the declared stream schema: every commit renders in it, the way
        # incremental_df renders a range in the latest schema
        self.schema_json = self.table.schema().to_json()
        self.consumer = options.get("consumer-id") or options.get("consumer_id")
        self.starting = options.get("startingoffsets", options.get(
            "startingOffsets", "earliest"))
        # Paimon's scan.mode=from-snapshot: begin the stream AT a specific
        # snapshot id (inclusive) — the reproducible-replay startup a
        # backfill pipeline wants. Exclusive with startingOffsets=latest.
        self.from_snapshot = options.get("from-snapshot")
        if self.from_snapshot is not None:
            if str(self.starting).lower() == "latest":
                raise ValueError(
                    "from-snapshot and startingOffsets=latest are exclusive")
            self.from_snapshot = int(self.from_snapshot)

    def initialOffset(self) -> dict:
        if self.consumer:
            nxt = self.table.list_consumers().get(self.consumer)
            if nxt is not None:
                return {"snapshot": nxt - 1}
        if self.from_snapshot is not None:
            return {"snapshot": max(0, self.from_snapshot - 1)}
        if str(self.starting).lower() == "latest":
            return self.latestOffset()
        return {"snapshot": 0}

    def latestOffset(self) -> dict:
        ids = self.table.snapshot_ids()
        return {"snapshot": ids[-1] if ids else 0}

    def partitions(self, start: dict, end: dict) -> Sequence[PaimonStreamPartition]:
        t, schema = self.table, self.schema_json
        lookup = schema["options"].get("changelog-producer") == "lookup"
        parts: list[PaimonStreamPartition] = []
        for snap, entries, new, parent_dv in t.commit_walk(
            start["snapshot"], end["snapshot"]
        ):
            sid = snap.snapshot_id
            if lookup:
                if snap.changelog:
                    # written in the commit's schema: project it by field
                    # id like any data file
                    clg = os.path.join(self.meta, "changelog", snap.changelog)
                    parts.append(PaimonStreamPartition(
                        "files", t, schema, sid, files=[
                            (os.path.join(clg, f), snap.schema_id)
                            for f in sorted(os.listdir(clg))
                            if f.startswith("part-") and f.endswith(".parquet")
                        ],
                    ))
                continue
            for e in new:
                parts.append(PaimonStreamPartition(
                    "files", t, schema, sid,
                    files=[(os.path.join(self.path, e["path"]), e["schema_id"])],
                ))
            # deletion-vector diff: positions newly marked dead in this
            # commit come back as D rows (lossless, like incremental_df)
            dv = snap.dv_index
            if dv and dv != parent_dv:
                diff = _dv_positions(self.path, dv)
                if parent_dv:
                    old = _dv_positions(self.path, parent_dv)
                    diff = {
                        f: sorted(set(ps) - set(old.get(f, [])))
                        for f, ps in diff.items()
                    }
                path_sid = {e["path"]: e["schema_id"] for e in entries}
                positions = {
                    os.path.join(self.path, f): (path_sid[f], ps)
                    for f, ps in diff.items()
                    if ps and f in path_sid
                }
                if positions:
                    parts.append(PaimonStreamPartition(
                        "dvdiff", t, schema, sid, positions=positions,
                    ))
        return parts

    def read(self, partition: PaimonStreamPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = partition.schema
        names = [f["name"] for f in schema["fields"]]
        out_names = names + [SEQ_COL, KIND_COL]

        def finalize(tbl, seq_default: int, kind_default: str):
            n = tbl.num_rows
            cols = []
            for c in out_names:
                if c in tbl.column_names:
                    cols.append(tbl.column(c))
                elif c == SEQ_COL:
                    cols.append(pa.array([seq_default] * n, type=pa.int64()))
                elif c == KIND_COL:
                    cols.append(pa.array([kind_default] * n, type=pa.string()))
                else:
                    at = _arrow_type(
                        next(f["type"] for f in schema["fields"] if f["name"] == c)
                    )
                    cols.append(pa.nulls(n, type=at or pa.string()))
            tbl = pa.table(dict(zip(out_names, cols)))
            return iter(_cast_to_schema(tbl, schema).to_batches(max_chunksize=4096))

        if partition.mode == "dvdiff":
            tables = []
            for f, (sid, positions) in partition.positions.items():
                t = _project_arrow(
                    pq.read_table(f).take(positions),
                    partition.table.schema(sid).to_json(),
                    schema,
                )
                tables.append(t.select([c for c in t.column_names if c in names]))
            tbl = pa.concat_tables(tables, promote_options="permissive")
            return finalize(tbl, partition.seq, "D")
        tables = [
            _project_arrow(
                _read_arrow_file(f), partition.table.schema(sid).to_json(), schema
            )
            for f, sid in partition.files
        ]
        if not tables:
            return iter(())
        tbl = pa.concat_tables(tables, promote_options="permissive")
        if POS_COL in tbl.column_names:
            tbl = tbl.drop_columns([POS_COL])
        return finalize(tbl, partition.seq, "I")

    def commit(self, end: dict) -> None:
        if self.consumer:
            self.table.register_consumer(self.consumer, int(end["snapshot"]) + 1)


def _dv_positions(path: str, dv_name: str) -> dict[str, list[int]]:
    """Read a deletion-vector index dataset: rel path -> positions."""
    import pyarrow.parquet as pq

    dvt = pq.read_table(os.path.join(path, "index", dv_name))
    out: dict[str, list[int]] = {}
    for p, pos in zip(
        dvt.column("path").to_pylist(), dvt.column("pos").to_pylist()
    ):
        out.setdefault(p, []).append(pos)
    return out


def spark_ddl_type(t: str) -> str:
    """Table-schema type → Spark DDL type for Python-DataSource schemas.

    TIME is stored/read as micros-since-midnight bigint (the
    table._parse_type convention); Spark's DDL parser has no TIME.
    CHAR(n)/VARCHAR(n), nested ones included, read as plain string — the
    bound/padding are write-side concerns, and Spark's Arrow conversion
    for Python data sources rejects Char/VarcharType."""
    if _is_time_type(t):
        return "bigint"
    return _CHAR_TYPES_RE.sub("string", t)


class PaimonDataSource(DataSource):
    """``spark.dataSource.register(PaimonDataSource)`` then
    ``spark.read.format("paimon").option("path", table_dir).load()``;
    ``spark.readStream.format("paimon").option("changelog", "true")``
    streams the table's change rows with snapshot-id offsets."""

    @classmethod
    def name(cls) -> str:
        return "paimon"

    def schema(self) -> str:
        schema = _scan(self.options).render_schema()
        cols = ", ".join(
            f"`{f['name']}` {spark_ddl_type(f['type'])}"
            for f in schema.fields
        )
        if self.options.get("changelog") == "true":
            cols += f", `{SEQ_COL}` bigint, `{KIND_COL}` string"
        return cols

    def reader(self, schema) -> PaimonReader:
        if self.options.get("changelog") == "true":
            raise ValueError(
                "changelog=true is a streaming option; use spark.readStream "
                "(batch change reads: Table.incremental_df / changelog_df)"
            )
        return PaimonReader(self.options)

    def streamReader(self, schema) -> PaimonStreamReader:
        if self.options.get("changelog") != "true":
            raise ValueError(
                "streaming reads require option(\"changelog\", \"true\") — "
                "the stream carries __seq/__row_kind change semantics"
            )
        return PaimonStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> PaimonWriter:
        return PaimonWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> PaimonStreamWriter:
        if overwrite:
            raise ValueError(
                "streaming into a paimon table is append/upsert per "
                "micro-batch; complete-mode overwrite is not supported"
            )
        return PaimonStreamWriter(self.options, overwrite)


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
