"""Warehouse catalog: databases, tables, DDL, schema evolution.

The Spark-native rebuild of the reference's catalog surface
(SURVEY §2.1 A15-A18):

- list/create/drop schema, list tables ... ``PrestoMetadata.java:91-130,210-227``
- CREATE TABLE with primary keys / partition keys / options
  ..................................... ``PrestoMetadata.java:239-291``,
  ``PrestoSqlMetadataBase.java:180-213`` (arbitrary option passthrough)
- DROP/RENAME TABLE .................... ``PrestoMetadata.java:293-320``
- ALTER TABLE add/rename/drop column ... ``PrestoSqlMetadataBase.java:288-343``
- system tables via ``name$suffix`` .... ``TestPrestoITCase.java:376-381``

Directory model mirrors Paimon's ``warehouse/<db>.db/<table>/`` layout
(``PrestoMetadata.java:86-97``). Identifier matching is case-insensitive
(``FieldNameUtils.java:30-35``).
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from paimon_presto_spark import properties
from paimon_presto_spark.table import (
    MERGE_FIELD_SUFFIXES,
    MERGE_OPTIONS,
    Table,
    TableSchema,
    _is_time_type,
    _parse_type,
    merge_spec,
    schema_from_spark,
    split_ddl_fields,
)

SYSTEM_TABLE_SUFFIXES = (
    "snapshots", "files", "partitions", "schemas", "tags", "options",
    "manifests", "audit_log", "consumers", "branches", "statistics", "ro",
)


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        metastore: "str | Metastore" = "filesystem",
        uri: str | None = None,
    ):
        """``metastore``/``uri`` mirror the reference's catalog config
        (``PaimonConfig.java:28-60``): ``filesystem`` (default) derives
        the namespace from the warehouse layout; ``jdbc`` keeps it in a
        SQLite database at ``uri`` (table content stays in the table
        directories either way — see ``metastore.py``). A ``Metastore``
        INSTANCE may be passed instead of a name — the plug point for
        backends this environment cannot ship (e.g. a thrift HMS client),
        mirroring Paimon's custom catalog factory; ``uri`` must then be
        None (the instance already carries its connection)."""
        from paimon_presto_spark.metastore import Metastore, create_metastore

        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        if isinstance(metastore, Metastore):
            if uri is not None:
                raise ValueError(
                    "uri is meaningless with a Metastore instance"
                )
            self.metastore = metastore
        else:
            self.metastore = create_metastore(warehouse, metastore, uri)

    # -- databases (A15) ---------------------------------------------------

    def _db_path(self, db: str) -> str:
        return os.path.join(self.warehouse, f"{db.lower()}.db")

    def list_databases(self) -> list[str]:
        return self.metastore.list_databases()

    def database_exists(self, db: str) -> bool:
        return self.metastore.database_exists(db.lower())

    def create_database(self, db: str, ignore_if_exists: bool = False) -> None:
        if self.database_exists(db):
            if ignore_if_exists:
                return
            raise ValueError(f"database {db} already exists")
        self.metastore.create_database(db.lower())

    def drop_database(self, db: str, cascade: bool = False) -> None:
        if not self.database_exists(db):
            raise ValueError(f"database {db} does not exist")
        self.metastore.drop_database(db.lower(), cascade)

    # -- tables ------------------------------------------------------------

    def _table_path(self, db: str, name: str) -> str:
        """Registered location of the table, or its default location when
        not (yet) registered — creators write there, readers of a missing
        table keep failing on the absent schema directory."""
        p = self.metastore.table_path(db.lower(), name.lower())
        return (
            p
            if p is not None
            else self.metastore.default_table_path(db.lower(), name.lower())
        )

    def list_tables(self, db: str) -> list[str]:
        if not self.database_exists(db):
            raise ValueError(f"database {db} does not exist")
        return self.metastore.list_tables(db.lower())

    def table_exists(self, db: str, name: str) -> bool:
        base, _ = _split_system(name)
        return self.metastore.table_path(db.lower(), base.lower()) is not None

    def create_table(
        self,
        db: str,
        name: str,
        schema: T.StructType | str,
        primary_keys: Iterable[str] = (),
        partition_keys: Iterable[str] = (),
        options: dict[str, str] | None = None,
        ignore_if_exists: bool = False,
        location: str | None = None,
    ) -> Table:
        if not self.database_exists(db):
            raise ValueError(f"database {db} does not exist")
        if self.table_exists(db, name):
            if ignore_if_exists:
                return self.get_table(db, name)
            raise ValueError(f"table {db}.{name} already exists")
        path = location or self.metastore.default_table_path(
            db.lower(), name.lower()
        )
        if os.path.isdir(path) and os.listdir(path):
            raise ValueError(
                f"location {path} exists and is not empty"
            )
        if isinstance(schema, str):
            # Parse the field list ourselves: StructType.fromDDL has no
            # TIME type, but the reference surface does (mapped to
            # micros-since-midnight bigint — see table._parse_type). The
            # declared "time" string is preserved in the table metadata.
            fields = []
            for i, (nm, typ) in enumerate(split_ddl_fields(schema)):
                typ, n_notnull = re.subn(r"(?i)\s+not\s+null\s*$", "", typ)
                tstr = "time" if _is_time_type(typ) else _parse_type(typ).simpleString()
                fields.append(
                    {"id": i, "name": nm, "type": tstr, "nullable": n_notnull == 0}
                )
            ts = TableSchema(
                schema_id=0,
                fields=fields,
                primary_keys=list(primary_keys),
                partition_keys=list(partition_keys),
                options=dict(options or {}),
                highest_field_id=len(fields) - 1,
            )
        else:
            ts = schema_from_spark(schema, primary_keys, partition_keys, options)
        # validate keys against columns (case-insensitive)
        names = {f["name"].lower() for f in ts.fields}
        for k in list(ts.primary_keys) + list(ts.partition_keys):
            if k.lower() not in names:
                raise ValueError(f"key column {k!r} not in schema")
        for k in ts.partition_keys:
            if k in ts.primary_keys and set(ts.primary_keys) <= set(ts.partition_keys):
                raise ValueError("primary key cannot be a subset of partition keys")
        merge_spec(ts)  # a bad merge contract fails before anything exists
        # register FIRST: the backend validates the location (and, on
        # jdbc, the pointer insert is the atomic duplicate check) before
        # any content is written, so a rejected create leaves no debris.
        # Rollbacks are pointer-only (forget_table) plus at most the
        # schema directory THIS call created — never an rmtree of the
        # location, which a concurrent creator may own.
        self.metastore.register_table(db.lower(), name.lower(), path)
        schema_dir = os.path.join(path, "schema")
        try:
            os.makedirs(schema_dir)
        except BaseException:
            self.metastore.forget_table(db.lower(), name.lower())
            raise
        try:
            with open(os.path.join(schema_dir, "schema-0.json"), "w") as fh:
                json.dump(ts.to_json(), fh, indent=2)
        except BaseException:
            self.metastore.forget_table(db.lower(), name.lower())
            import shutil

            shutil.rmtree(schema_dir, ignore_errors=True)
            raise
        return Table(self.spark, path)

    def get_table(self, db: str, name: str) -> Table:
        base, suffix = _split_system(name)
        registered = self.metastore.table_path(db.lower(), base.lower())
        path = (
            registered
            if registered is not None
            else self.metastore.default_table_path(db.lower(), base.lower())
        )
        if not os.path.isdir(os.path.join(path, "schema")):
            if registered is not None:
                # A pointer with no schema directory is the footprint of a
                # create_table killed between registering and writing
                # schema-0.json. Name the repair instead of the generic
                # "does not exist" (which contradicts create_table's
                # "already exists" for the same name).
                raise ValueError(
                    f"table {db}.{base} is registered at {path} but has no "
                    "schema directory (create_table was interrupted); run "
                    f"drop_table({db!r}, {base!r}) to clear the dangling "
                    "pointer, then re-create"
                )
            raise ValueError(f"table {db}.{base} does not exist")
        if suffix:
            raise ValueError(
                f"{name} is a system table; use read_table() to read it"
            )
        return Table(self.spark, path)

    def drop_table(self, db: str, name: str, ignore_if_missing: bool = False) -> None:
        base, suffix = _split_system(name)
        if suffix:
            # table_exists strips the suffix, so 't$snapshots' would pass
            # the check on base 't' while unregister_table('t$snapshots')
            # silently no-ops — reject suffixed names outright.
            raise ValueError(
                f"{name} is a system table; drop the base table {base!r}"
            )
        if not self.table_exists(db, base):
            if ignore_if_missing:
                return
            raise ValueError(f"table {db}.{base} does not exist")
        self.metastore.unregister_table(db.lower(), base.lower())

    def rename_table(self, db: str, name: str, new_name: str) -> None:
        base, suffix = _split_system(name)
        nbase, nsuffix = _split_system(new_name)
        if suffix or nsuffix:
            raise ValueError(
                "system tables cannot be renamed; use the base table name"
            )
        name, new_name = base, nbase
        if not self.table_exists(db, name):
            raise ValueError(f"table {db}.{name} does not exist")
        if self.table_exists(db, new_name):
            raise ValueError(f"table {db}.{new_name} already exists")
        cur = self.metastore.table_path(db.lower(), name.lower())
        default = self.metastore.default_table_path(db.lower(), name.lower())
        # warehouse-resident tables move to the new default directory;
        # external-location tables keep their directory — the rename is a
        # pure pointer update (moving external data into the warehouse, or
        # os.rename across filesystems, would both be wrong)
        new_path = (
            self.metastore.default_table_path(db.lower(), new_name.lower())
            if os.path.abspath(cur) == os.path.abspath(default)
            else cur
        )
        self.metastore.rename_table(
            db.lower(), name.lower(), new_name.lower(), new_path
        )

    def read_table(self, db: str, name: str, **scan_kwargs) -> DataFrame:
        """Read a table (or a ``name$system`` table) as a DataFrame.

        Honors the ``spark.paimon.scan_version`` session property (A21) —
        the reference resolves the same property into Paimon's
        ``scan.version`` option per table handle (``PrestoMetadata.java:
        137-165``). Explicit time-travel scan kwargs take precedence.
        """
        base, suffix = _split_system(name)
        table = Table(self.spark, self._table_path(db, base))
        if suffix is None:
            if not any(
                scan_kwargs.get(k) is not None
                for k in ("snapshot_id", "as_of_timestamp_ms", "tag")
            ):
                version = properties.session_scan_version(self.spark, db, base)
                if version is not None:
                    scan_kwargs.update(
                        properties.scan_kwargs_for_version(version, table)
                    )
            return table.to_df(**scan_kwargs)
        if suffix == "snapshots":
            return table.snapshots_df()
        if suffix == "files":
            return table.files_df()
        if suffix == "partitions":
            return table.partitions_df()
        if suffix == "schemas":
            return table.schemas_df()
        if suffix == "tags":
            return table.tags_df()
        if suffix == "options":
            return table.options_df()
        if suffix == "manifests":
            return table.manifests_df()
        if suffix == "audit_log":
            return table.audit_log_df(**scan_kwargs)
        if suffix == "consumers":
            return table.consumers_df()
        if suffix == "statistics":
            return table.statistics_df()
        if suffix == "ro":
            return table.ro_df()
        if suffix == "branches":
            return table.branches_df()
        if suffix.startswith("branch_"):  # Paimon `t$branch_<name>` reads
            return table.branch(suffix[len("branch_"):]).to_df(**scan_kwargs)
        raise ValueError(f"unknown system table suffix {suffix!r}")

    def show_create_table(self, db: str, name: str) -> str:
        """Canonical CREATE TABLE statement for a table — the reference's
        SHOW CREATE TABLE round-trip surface (``TestPrestoSqlTCase.java:
        225-234`` asserts the WITH clause carries pk/partition/options).
        The emitted string is re-runnable against ``create_table``."""
        t = self.get_table(db, name)
        s = t.schema()
        cols = ",\n".join(
            f"   {f['name']} {f['type'].upper()}"
            + ("" if f.get("nullable", True) else " NOT NULL")
            for f in s.fields
        )
        props = []
        if s.primary_keys:
            props.append(f"primary_key = ARRAY[{', '.join(repr(k) for k in s.primary_keys)}]")
        if s.partition_keys:
            props.append(
                f"partitioned_by = ARRAY[{', '.join(repr(k) for k in s.partition_keys)}]"
            )
        for k, v in sorted(s.options.items()):
            props.append(f"{k!r} = {v!r}")
        with_clause = (
            " WITH (\n   " + ",\n   ".join(props) + "\n)" if props else ""
        )
        return f"CREATE TABLE {db}.{name} (\n{cols}\n){with_clause}"

    # -- schema evolution (A18) -------------------------------------------

    def add_column(
        self, db: str, name: str, column: str, ddl_type: str, nullable: bool = True
    ) -> None:
        t = self.get_table(db, name)
        s = t.schema()
        if any(f["name"].lower() == column.lower() for f in s.fields):
            raise ValueError(f"column {column} already exists")
        new_id = s.highest_field_id + 1
        s.fields.append(
            {"id": new_id, "name": column, "type": ddl_type, "nullable": nullable}
        )
        self._write_schema(t, s, new_id)

    def rename_column(self, db: str, name: str, column: str, new_name: str) -> None:
        t = self.get_table(db, name)
        s = t.schema()
        if any(f["name"].lower() == new_name.lower() for f in s.fields):
            raise ValueError(f"column {new_name} already exists")
        col = s.resolve(column)
        if col in s.primary_keys or col in s.partition_keys:
            raise ValueError(f"cannot rename key column {col}")
        spec = merge_spec(s)
        # the merge options follow the column: the lists naming it, and
        # its own fields.<col>.* keys
        for k, cols in (spec.references(col) if spec else {}).items():
            s.options[k] = ",".join(new_name if c == col else c for c in cols)
        own = f"fields.{col}."
        s.options = {
            (f"fields.{new_name}.{k[len(own):]}" if k.startswith(own) else k): v
            for k, v in s.options.items()
        }
        for f in s.fields:
            if f["name"] == col:
                f["name"] = new_name
        self._write_schema(t, s, s.highest_field_id)

    def update_column_type(
        self, db: str, name: str, column: str, new_type: str
    ) -> None:
        """Widen a column's type (Paimon CDC schema evolution accepts only
        lossless widenings: up the integer ladder, float→double, decimal
        precision/scale growth). Old data files are projected to the new
        type on read through the field-id cast in ``_project_to`` — no
        rewrite. Narrowings raise."""
        t = self.get_table(db, name)
        s = t.schema()
        col = s.resolve(column)
        if col in s.partition_keys:
            raise ValueError(f"cannot retype partition column {col}")
        old = next(f["type"] for f in s.fields if f["name"] == col)
        if _normalize_type(old) == _normalize_type(new_type):
            return
        if not _is_widening(old, new_type):
            raise ValueError(
                f"cannot narrow {col} from {old!r} to {new_type!r}"
            )
        for f in s.fields:
            if f["name"] == col:
                f["type"] = new_type
        self._write_schema(t, s, s.highest_field_id)

    def drop_column(self, db: str, name: str, column: str) -> None:
        t = self.get_table(db, name)
        s = t.schema()
        col = s.resolve(column)
        if col in s.primary_keys or col in s.partition_keys:
            raise ValueError(f"cannot drop key column {col}")
        if len(s.fields) == 1:
            raise ValueError("cannot drop the last column")
        spec = merge_spec(s)
        refs = sorted(spec.references(col)) if spec else []
        if refs:
            raise ValueError(f"cannot drop {col}: merge options {refs} name it")
        s.fields = [f for f in s.fields if f["name"] != col]
        s.options = {
            k: v for k, v in s.options.items()
            if not k.startswith(f"fields.{col}.")
        }
        self._write_schema(t, s, s.highest_field_id)

    #: options that define the table's physical/merge contract — changing
    #: them under existing data corrupts reads, so ALTER rejects them:
    #: bucket (use Table.rescale_bucket — it rewrites data), merge-engine
    #: and sequence.field (they re-ORDER the already-written history),
    #: deletion-vectors (pre-existing multi-version keys would violate the
    #: one-live-position read invariant; recreate or compact-migrate).
    _IMMUTABLE_OPTIONS = frozenset(
        ["bucket", *MERGE_OPTIONS, "deletion-vectors.enabled"]
    )
    #: per-field merge semantics are part of the same contract — changing
    #: fields.<c>.aggregate-function (or .sequence-group / .distinct)
    #: re-aggregates the already-committed history under new rules,
    #: contradicting every changelog and read served so far
    _IMMUTABLE_SUFFIXES = MERGE_FIELD_SUFFIXES

    @classmethod
    def _immutable_option_keys(cls, keys) -> list[str]:
        return sorted(
            k
            for k in keys
            if k in cls._IMMUTABLE_OPTIONS
            or (k.startswith("fields.") and k.endswith(cls._IMMUTABLE_SUFFIXES))
        )

    @classmethod
    def _fields_option_column(cls, key: str) -> str | None:
        if not key.startswith("fields."):
            return None
        for suf in cls._IMMUTABLE_SUFFIXES:
            if key.endswith(suf):
                return key[len("fields."):-len(suf)]
        return None

    def _exempt_uncommitted_fields(self, t: Table, bad: list[str]) -> list[str]:
        """A fields.* merge-semantics option is only immutable when the
        column has COMMITTED data to re-aggregate: a column added after
        the last commit (tracked by field id, so renames can't fake it)
        reads NULL from every committed file and may still pick its
        aggregate function."""
        s = t.schema()
        cur_id = {f["name"]: f["id"] for f in s.fields}
        committed_ids: set[int] = set()
        for sid in t.snapshot_ids():
            snap = t.snapshot(sid)
            committed_ids.update(
                f["id"] for f in t.schema(snap.schema_id).fields
            )
        out = []
        for k in bad:
            col = self._fields_option_column(k)
            if col is not None and cur_id.get(col) not in committed_ids:
                continue  # never-committed column: no history to corrupt
            out.append(k)
        return out

    def set_table_options(self, db: str, name: str, options: dict[str, str]) -> None:
        """``ALTER TABLE ... SET (k = v, ...)`` — Paimon's mutable-option
        surface (the reference exposes the same WITH-clause options at
        CREATE, ``PrestoSqlTableOptionUtils.java:96-128``; Paimon core
        allows altering the non-structural ones later). The change bumps
        the schema version: already-written files keep their writer
        schema, so e.g. switching ``file.format`` affects only new files
        while old ones keep reading in their original format."""
        t = self.get_table(db, name)
        s = t.schema()
        bad = self._exempt_uncommitted_fields(
            t, self._immutable_option_keys(options)
        )
        if bad:
            raise ValueError(
                f"options {bad} are immutable after creation (bucket: use "
                "rescale_bucket; merge-engine/sequence.field/fields.* merge "
                "semantics would reorder or re-aggregate committed history; "
                "deletion-vectors needs a migration)"
            )
        s.options.update({k: str(v) for k, v in options.items()})
        self._write_schema(t, s, s.highest_field_id)

    def reset_table_options(self, db: str, name: str, keys: list[str]) -> None:
        """``ALTER TABLE ... RESET (k, ...)`` — drop options back to their
        defaults (same immutability rules as ``set_table_options``)."""
        t = self.get_table(db, name)
        bad = self._exempt_uncommitted_fields(
            t, self._immutable_option_keys(keys)
        )
        if bad:
            raise ValueError(f"options {bad} are immutable after creation")
        s = t.schema()
        for k in keys:
            s.options.pop(k, None)
        self._write_schema(t, s, s.highest_field_id)

    def _write_schema(self, table: Table, s: TableSchema, highest_id: int) -> None:
        merge_spec(s)  # every schema version keeps a valid merge contract
        s.schema_id += 1
        s.highest_field_id = max(s.highest_field_id, highest_id)
        path = os.path.join(table.meta_path, "schema", f"schema-{s.schema_id}.json")
        if os.path.exists(path):
            raise ValueError(f"concurrent schema change on {table.path}")
        with open(path, "w") as fh:
            json.dump(s.to_json(), fh, indent=2)


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _normalize_type(t: str) -> str:
    return t.strip().lower().replace(" ", "")


def _decimal_ps(t: str) -> tuple[int, int] | None:
    m = _DECIMAL_RE.match(_normalize_type(t))
    return (int(m.group(1)), int(m.group(2))) if m else None


def _is_widening(old: str, new: str) -> bool:
    """Lossless type widenings only — the set Paimon CDC schema evolution
    applies without data rewrite: integer ladder up, float→double,
    decimal precision/scale growth (integer digits must not shrink)."""
    o, n = _normalize_type(old), _normalize_type(new)
    if o in _INT_RANK and n in _INT_RANK:
        return _INT_RANK[n] > _INT_RANK[o]
    if o == "float" and n == "double":
        return True
    op, np_ = _decimal_ps(o), _decimal_ps(n)
    if op and np_:
        return np_[0] >= op[0] and np_[1] >= op[1] and (
            np_[0] - np_[1] >= op[0] - op[1]
        ) and np_ != op
    return False


def _split_system(name: str) -> tuple[str, str | None]:
    if "$" in name:
        base, suffix = name.split("$", 1)
        return base.lower(), suffix.lower()
    return name.lower(), None


def register_catalog_views(catalog: "Catalog", db: str, spark=None) -> list[str]:
    """Expose every table of `db` as temp views so the engine-native SQL
    surface (SHOW TABLES / DESCRIBE / EXPLAIN / information-schema-style
    catalog APIs — SURVEY §2.2 scans/sources rows) works over our tables.

    Current snapshots only; views are session-scoped, re-register after
    commits for fresh reads (a view holds the file list planned at
    registration, snapshot-isolated like the reference's self-contained
    table handles, PrestoMetadata.java:157).
    """
    spark = spark or catalog.spark
    names = []
    for name in catalog.list_tables(db):
        catalog.get_table(db, name).to_df().createOrReplaceTempView(name)
        names.append(name)
    return names
