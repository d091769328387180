"""System catalog: table definitions + data registration.

Mirrors the reference's ``system.tables`` / ``system.columns`` bootstrap
(/root/reference/src/storage/system.rs:3-91,
/root/reference/src/executor/mod.rs:64-71) with the extra metadata Spark
can't natively store: primary key, metric key + metric, defaults,
emdrive nullability (SURVEY §1.1).

Storage model: each table is a DataFrame registered as a temp view.
Without a data directory an INSERT unions its VALUES batch into the
view (lineage truncated every ``_CHECKPOINT_EVERY_INSERTS``). A saved
table is an append-only log of immutable, PK-sorted Parquet segments
under ``<root>/<schema>/<table>/``, listed with their PK ``[min, max]``
in ``<root>/_catalog.json`` (the append-then-merge layout of the
log-structured merge-tree, O'Neil et al. 1996): a save appends the
rows inserted since the last one as one segment, and the view reads
exactly the listed segments. The PK ranges let an INSERT check
uniqueness against the overlapping segments only.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.functions.generators import ulid
from emdrive_spark.sql import ast
from emdrive_spark.sql.errors import EmdriveValidationError
from emdrive_spark.types import EmdriveType

DEFAULT_SCHEMA = "main"

# INSERTs between lineage truncations (Catalog.insert) — high enough to
# keep checkpoint cost off the common path, low enough that plan depth
# stays bounded for ingest loops. Also the most segments a saved table
# keeps (Catalog.save compacts past it), which keeps Spark's listing of
# a table's files on the driver (parallelPartitionDiscovery.threshold
# is 32 paths).
_CHECKPOINT_EVERY_INSERTS = 32


@dataclass(frozen=True)
class Segment:
    """One immutable Parquet file of a saved table, sorted by PK.
    ``lo``/``hi`` bound its PK values; None means unknown (a legacy
    file, or a PK type without a tracked order), so an INSERT always
    checks it."""

    file: str  # name inside the table directory
    lo: object = None
    hi: object = None

    def overlaps(self, lo: object, hi: object) -> bool:
        return self.lo is None or (self.lo <= hi and lo <= self.hi)


@dataclass
class TableEntry:
    name: str
    schema_name: str
    columns: tuple[ast.ColumnDef, ...]
    df: DataFrame
    inserts: int = 0  # since last lineage truncation (see Catalog.insert)
    # Root of THIS entry's last successful write/restore, and the
    # segments there that ``df`` reads (None: ``df`` is not a segment
    # read, so the next save writes the whole table). The pair is per
    # entry, not per catalog: a save to a different root that fails
    # midway leaves each entry pointing at the root it really reached,
    # so a later save to the original root rewrites it instead of
    # trusting a stale segment list.
    saved_root: str | None = None
    segments: list[Segment] | None = None
    # Rows inserted since the last save, kept while ``segments`` is set:
    # the next save to ``saved_root`` appends them as one segment.
    pending: list[dict] = field(default_factory=list)
    # True only while the table PROVABLY has no rows (fresh CREATE,
    # nothing inserted). Lets the first INSERT skip the PK-uniqueness
    # semi-join — a whole Spark job spent proving a 0-row table has no
    # clashing keys. Conservative: restore() clears it without
    # counting, so the flag can only ever skip a check that is
    # vacuously true.
    known_empty: bool = False

    @property
    def pk(self) -> ast.ColumnDef:
        return next(c for c in self.columns if c.primary_key)

    def column(self, name: str) -> ast.ColumnDef:
        for c in self.columns:
            if c.name == name:
                return c
        raise EmdriveValidationError(
            f"Column {name!r} does not exist in table {self.name}."
        )


def _entry_meta(e: TableEntry) -> dict:
    """The _catalog.json record for one table (DDL metadata Spark's
    parquet footer can't carry: PK, metric, defaults, nullability)."""
    return {
        "schema_name": e.schema_name,
        "columns": [
            {
                "name": c.name,
                "type": c.etype.render(),
                "primary_key": c.primary_key,
                "metric": c.metric,
                "index_kind": c.index_kind,
                "default": _default_to_json(c.default),
            }
            for c in e.columns
        ],
        "segments": [
            {"file": g.file, "min": _bound_to_json(g.lo), "max": _bound_to_json(g.hi)}
            for g in e.segments
        ],
    }


def spark_schema(columns: tuple[ast.ColumnDef, ...]) -> T.StructType:
    """Emdrive columns → Spark StructType. Non-nullable by default
    (README.md:19 — the inverse of Spark's default); PK/metric/default
    metadata rides in StructField.metadata (SURVEY §1.1)."""
    fields = []
    for c in columns:
        meta = {"primary_key": c.primary_key}
        if c.metric:
            meta["metric"] = c.metric
            meta["index_kind"] = c.index_kind
        if c.etype.length is not None:
            meta["max_length"] = c.etype.length
        fields.append(
            T.StructField(c.name, c.etype.spark_type, nullable=c.etype.nullable, metadata=meta)
        )
    return T.StructType(fields)


class Catalog:
    """Session-scoped catalog. ``system_tables()`` / ``system_columns()``
    expose the same relations the reference bootstraps."""

    def __init__(self, spark: SparkSession, schema_name: str = DEFAULT_SCHEMA):
        self.spark = spark
        self.schema_name = schema_name
        self.tables: dict[str, TableEntry] = {}
        # Mutations are serialized: the HTTP front end is threaded, and
        # INSERT is a read-modify-write on entry.df (two concurrent
        # inserts would both union against the same base and the last
        # writer would silently drop the other's rows). The reference
        # gets the same guarantee from its single executor loop
        # (bounded mpsc channel, executor/mod.rs:19).
        import threading

        self._write_lock = threading.Lock()
        # SQL-queryable from session start, like the reference's
        # bootstrap (system.rs:5-91): the system relations exist (empty)
        # before the first CREATE TABLE.
        self.refresh_system_views()

    # -- DDL ------------------------------------------------------------

    def create_table(self, stmt: ast.CreateTable) -> None:
        stmt.validate()
        with self._write_lock:
            if stmt.name in self.tables:
                if stmt.if_not_exists:
                    return
                raise EmdriveValidationError(f"Table {stmt.name} already exists.")
            df = self._empty_frame(spark_schema(stmt.columns))
            entry = TableEntry(
                name=stmt.name,
                schema_name=self.schema_name,
                columns=stmt.columns,
                df=df,
                known_empty=True,
            )
            self.tables[stmt.name] = entry
            df.createOrReplaceTempView(stmt.name)
            self.refresh_system_views()

    def get(self, name: str) -> TableEntry:
        try:
            return self.tables[name]
        except KeyError:
            raise EmdriveValidationError(f"Table {name} does not exist.") from None

    # -- DML ------------------------------------------------------------

    def insert(self, stmt: ast.Insert) -> int:
        stmt.validate()
        entry = self.get(stmt.table)
        for col in stmt.columns:
            entry.column(col)  # raises on unknown column

        # Bad user values (a non-ISO timestamp string, a string where an
        # int belongs) raise plain ValueError/TypeError from coercion or
        # createDataFrame — map them into the 400 validation taxonomy
        # instead of leaking a 500 with PySpark internals (r4 review).
        try:
            py_rows = [
                self._materialize_row(entry, stmt.columns, row) for row in stmt.rows
            ]
            schema = spark_schema(entry.columns)
            batch = self._values_batch(py_rows, schema)
        except EmdriveValidationError:
            raise
        except (ValueError, TypeError) as exc:
            raise EmdriveValidationError(
                f"Invalid value in INSERT for table {stmt.table}: "
                f"{str(exc).splitlines()[0]}"
            ) from exc

        # Everything from the PK-clash check through the entry.df swap
        # must be one critical section: the check is check-then-act and
        # the swap is read-modify-write — a concurrent INSERT between
        # them would either slip a duplicate PK through or have its
        # rows silently dropped by the last writer.
        with self._write_lock:
            # PK uniqueness (reference enforces exactly-one-PK at DDL,
            # components.rs:164-169; uniqueness is the B+tree key
            # contract). Within-batch check driver-side (batch is a
            # VALUES list, small); against existing data via left-anti
            # join — distributed, no collect, scales to any table size.
            pk = entry.pk.name
            pk_vals = [r[pk] for r in py_rows]
            if len(set(pk_vals)) != len(pk_vals):
                raise EmdriveValidationError(
                    f"Duplicate PRIMARY KEY value in INSERT batch for table {stmt.table}."
                )
            against = None if entry.known_empty else entry.df
            if entry.segments is not None and not entry.pending:
                # df reads exactly the saved segments: only those whose
                # PK range overlaps the batch's can hold a clashing key
                lo, hi = min(pk_vals), max(pk_vals)
                hit = [g for g in entry.segments if g.overlaps(lo, hi)]
                table_dir = os.path.join(entry.saved_root, entry.schema_name, entry.name)
                against = self._segments_frame(entry.columns, table_dir, hit) if hit else None
            if against is not None:
                clashes = (
                    batch.join(against.select(pk), on=pk, how="left_semi")
                    .limit(1)
                    .count()
                )
                if clashes:
                    raise EmdriveValidationError(
                        f"PRIMARY KEY value already exists in table {stmt.table}."
                    )

            entry.df = entry.df.unionByName(batch)
            entry.known_empty = False
            if entry.segments is not None:
                entry.pending.extend(py_rows)  # the next save appends them
            # Lineage hygiene: every INSERT stacks a Union node, so a
            # long-lived table would accrete an unbounded plan (analyzer
            # time grows per statement, eventually StackOverflow).
            # Truncate the chain periodically — the checkpoint
            # materializes only this table's rows, and the PK anti-join
            # above already reads the data each INSERT anyway. A save
            # resets the count, so only unsaved tables get here; one
            # with a segment list drops it with its pending rows, which
            # bounds the driver memory they hold: its next save writes
            # the whole table.
            entry.inserts += 1
            if entry.inserts % _CHECKPOINT_EVERY_INSERTS == 0:
                entry.df = ckpt(entry.df)
                entry.segments, entry.pending = None, []
            entry.df.createOrReplaceTempView(entry.name)
        # no refresh_system_views() here: the system relations expose
        # DDL metadata only — INSERT never changes them, and the hot
        # ingest path shouldn't pay two view rebuilds per statement.
        return len(py_rows)

    def _empty_frame(self, schema: T.StructType) -> DataFrame:
        """An empty table as ``LocalTableScan <empty>``, not a
        parallelized empty RDD: ``createDataFrame([], schema)`` plans as
        Scan ExistingRDD with defaultParallelism empty python slices,
        and the CREATE-time frame rides under every later union — so
        each statement on the table would schedule 32 no-op python
        tasks per stage forever. An empty pyarrow table with the exact
        arrow schema keeps declared nullability and adds zero tasks."""
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(schema)
            tbl = pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in arrow_schema],
                schema=arrow_schema,
            )
            return self.spark.createDataFrame(tbl, schema=schema)
        except Exception:  # exotic type arrow can't express — RDD path
            return self.spark.createDataFrame([], schema=schema)

    def _values_batch(self, py_rows: list[dict], schema: T.StructType) -> DataFrame:
        """A VALUES batch as a LOCAL relation. A list-of-rows
        createDataFrame parallelizes 3 literal rows across
        defaultParallelism RDD slices, so every later statement
        touching the table schedules 32 near-empty PYTHON tasks per
        stage — measured at ~0.4 s per action on local[32], pure
        scheduler + python-worker overhead. The pandas path converts
        through Arrow into a LocalTableScan (~0.07 s, no python
        workers at execution, and Catalyst can broadcast or
        constant-fold a local relation). Falls back to the row path if
        Arrow rejects a value shape; the caller's ValueError/TypeError
        mapping handles bad user values identically either way."""
        import pandas as pd

        try:
            pdf = pd.DataFrame(py_rows, columns=[f.name for f in schema.fields])
            return self.spark.createDataFrame(pdf, schema=schema)
        except (ValueError, TypeError, KeyError):
            return self.spark.createDataFrame(py_rows, schema=schema)

    def _materialize_row(
        self, entry: TableEntry, columns: tuple[str, ...], row: tuple
    ) -> dict:
        given = dict(zip(columns, row))
        out: dict[str, object] = {}
        for cdef in entry.columns:
            if cdef.name in given:
                value = _eval_value(given[cdef.name])
            elif cdef.default is not None:
                value = _eval_value(cdef.default)  # DEFAULT injection
            else:
                value = None
            if value is None and not cdef.etype.nullable:
                raise EmdriveValidationError(
                    f"Column {cdef.name} is not nullable and has no default; "
                    f"a value is required."
                )
            out[cdef.name] = _coerce(cdef, value)
        return out

    # -- system tables (system.rs:14-91 + SURVEY §1.1 extras) ------------

    # -- durability (reference: data/<schema>/<table>/0 files,
    # filesystem.rs:11-15; blank-file bootstrap write.rs:12-38) --------

    def save(self, root: str) -> None:
        """Persist every table at ``<root>/<schema>/<table>/`` as
        PK-sorted Parquet segments, plus a ``_catalog.json`` holding
        the DDL metadata Spark can't store (PK, metric, defaults,
        emdrive nullability) and each table's segment list with PK
        ranges. A table whose segments are already at ``root`` appends
        the rows inserted since its last save as one new segment,
        written through Arrow on the driver with no Spark job; clean
        tables write nothing. Any other table (never saved, saved to a
        different root, or whose segment list an unsaved ingest loop
        dropped) is written whole through Spark. Past
        ``_CHECKPOINT_EVERY_INSERTS`` segments, the newest small ones
        are merged into one (``_compact``).

        Segment files are immutable and written before the json that
        lists them, which is published by temp-file + os.replace
        (atomic): a crash leaves the previous catalog intact and the
        unlisted file ignored. Files a compaction supersedes are
        deleted only at the following compaction, so a query planned
        before it still finds its files. Each live entry is re-pointed
        at exactly its listed segments, which also truncates the union
        lineage its INSERTs accreted.

        Runs UNDER the catalog write lock (r4 review: an unlocked save
        racing a concurrent INSERT read a pre-union entry.df and
        persisted a snapshot missing acknowledged rows; two concurrent
        saves also corrupted each other's writes and the json)."""
        import contextlib
        import json

        with self._write_lock:
            meta, doomed = {}, []
            for e in self.tables.values():
                table_dir = os.path.join(root, e.schema_name, e.name)
                if e.saved_root != root or e.segments is None:
                    e.segments = (
                        [] if e.known_empty
                        else self._spark_segments(e, e.df, table_dir)
                    )
                elif e.pending:
                    e.segments.append(self._arrow_segment(e, e.pending, table_dir))
                    if len(e.segments) > _CHECKPOINT_EVERY_INSERTS:
                        doomed += self._compact(e, table_dir)
                else:
                    meta[e.name] = _entry_meta(e)
                    continue
                e.saved_root, e.pending, e.inserts = root, [], 0
                e.df = self._segments_frame(e.columns, table_dir, e.segments)
                e.df.createOrReplaceTempView(e.name)
                meta[e.name] = _entry_meta(e)
            os.makedirs(root, exist_ok=True)
            tmp_json = os.path.join(root, "_catalog.json.tmp")
            with open(tmp_json, "w") as f:
                json.dump(meta, f, indent=2)
            os.replace(tmp_json, os.path.join(root, "_catalog.json"))
            for path in doomed:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)

    def _segments_frame(
        self, columns: tuple[ast.ColumnDef, ...], table_dir: str, segments: list[Segment]
    ) -> DataFrame:
        """A read of exactly ``segments`` in ``table_dir``."""
        schema = spark_schema(columns)
        if not segments:
            return self._empty_frame(schema)
        return self.spark.read.schema(schema).parquet(
            *(os.path.join(table_dir, g.file) for g in segments)
        )

    def _arrow_segment(self, entry: TableEntry, rows: list[dict], table_dir: str) -> Segment:
        """Write driver-side ``rows`` as one PK-sorted segment through
        Arrow. Naive timestamps are wall-clock times in the session
        time zone, as ``createDataFrame`` reads them, so the file holds
        the same instants Spark's own write of the batch would."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(spark_schema(entry.columns))
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        cols = []
        for f in arrow_schema:
            values = [r[f.name] for r in rows]
            if pa.types.is_timestamp(f.type):
                naive = pa.array(values, pa.timestamp(f.type.unit))
                cols.append(pc.assume_timezone(naive, tz).cast(f.type))
            else:
                cols.append(pa.array(values, f.type))
        pk = entry.pk.name
        table = pa.Table.from_arrays(cols, schema=arrow_schema).sort_by(pk)
        name = f"part-{ulid()}.parquet"
        os.makedirs(table_dir, exist_ok=True)
        pq.write_table(table, os.path.join(table_dir, name))
        keys = table.column(pk)
        return Segment(name, *_range(keys[0].as_py(), keys[-1].as_py()))

    def _spark_segments(self, entry: TableEntry, df: DataFrame, table_dir: str) -> list[Segment]:
        """Write ``df`` through Spark as one PK-sorted segment; its PK
        range comes from the Parquet footer statistics."""
        import shutil

        import pyarrow.parquet as pq

        staging = os.path.join(table_dir, f"_staging-{ulid()}")
        df.coalesce(1).sortWithinPartitions(entry.pk.name).write.parquet(staging)
        segments = []
        for out in sorted(os.listdir(staging)):
            if out.startswith("part-") and out.endswith(".parquet"):
                name = f"part-{ulid()}.parquet"
                path = os.path.join(table_dir, name)
                os.replace(os.path.join(staging, out), path)
                meta = pq.ParquetFile(path).metadata
                col = next(
                    j for j in range(meta.num_columns)
                    if meta.schema.column(j).path == entry.pk.name
                )
                stats = [meta.row_group(i).column(col).statistics for i in range(meta.num_row_groups)]
                if stats and all(st is not None and st.has_min_max for st in stats):
                    bounds = _range(min(st.min for st in stats), max(st.max for st in stats))
                else:  # no rows, or stats the writer left out
                    bounds = (None, None)
                segments.append(Segment(name, *bounds))
        shutil.rmtree(staging)
        return segments

    def _compact(self, entry: TableEntry, table_dir: str) -> list[str]:
        """Merge the newest run of small segments into one, keeping
        every older segment larger than all segments after it (so each
        byte is rewritten O(log n) times, as in a size-tiered LSM
        merge). Returns the files to delete once the new catalog is
        published: those neither listed before this save nor after it,
        which are the ones the previous compaction superseded plus any
        a crash left unlisted."""
        sizes = [os.path.getsize(os.path.join(table_dir, g.file)) for g in entry.segments]
        start, later = len(sizes) - 2, sum(sizes)
        for i, size in enumerate(sizes[:-2]):
            later -= size
            if size <= later:
                start = i
                break
        merged = self._spark_segments(
            entry, self._segments_frame(entry.columns, table_dir, entry.segments[start:]), table_dir
        )
        keep = {g.file for g in entry.segments + merged}
        entry.segments = entry.segments[:start] + merged
        return [
            os.path.join(table_dir, f) for f in os.listdir(table_dir)
            if f.startswith("part-") and f.endswith(".parquet") and f not in keep
        ]

    def restore(self, root: str) -> int:
        """Load a saved catalog: re-register every table (schema from
        the metadata file — nullability/PK/metric survive the
        round-trip, which plain Parquet alone would lose) over exactly
        its listed segments; a file in the table directory that the
        json does not list is ignored. A json written before segment
        lists existed restores each Parquet file of the table directory
        as a segment of unknown range. Runs under the write lock (it
        mutates self.tables)."""
        import json

        from emdrive_spark.types import parse_type

        with open(os.path.join(root, "_catalog.json")) as f:
            meta = json.load(f)
        with self._write_lock:
            for name, t in meta.items():
                columns = tuple(
                    ast.ColumnDef(
                        name=c["name"],
                        etype=parse_type(c["type"]),
                        primary_key=c["primary_key"],
                        metric=c["metric"],
                        index_kind=c["index_kind"],
                        default=_default_from_json(c["default"]),
                    )
                    for c in t["columns"]
                )
                table_dir = os.path.join(root, t["schema_name"], name)
                if "segments" in t:
                    segments = [
                        Segment(g["file"], _bound_from_json(g["min"]), _bound_from_json(g["max"]))
                        for g in t["segments"]
                    ]
                else:
                    segments = [
                        Segment(f) for f in sorted(os.listdir(table_dir))
                        if f.startswith("part-") and f.endswith(".parquet")
                    ]
                df = self._segments_frame(columns, table_dir, segments)
                self.tables[name] = TableEntry(
                    name=name,
                    schema_name=t["schema_name"],
                    columns=columns,
                    df=df,
                    # the segments just listed ARE this root's current
                    # state — the next save() to the same root appends
                    saved_root=root,
                    segments=segments,
                )
                df.createOrReplaceTempView(name)
            self.refresh_system_views()
        return len(meta)

    def refresh_system_views(self) -> None:
        """Register ``system_tables`` / ``system_columns`` as SQL temp
        views so any SQL client (HTTP GET included) can introspect the
        catalog — the reference bootstraps these as REAL tables an SQL
        client reads (/root/reference/src/storage/system.rs:5-91,
        /root/reference/src/executor/mod.rs:64-71). Refreshed on every
        CREATE and restore, the only statements that change DDL
        metadata (INSERT skips it). (Temp-view names can't be dotted,
        so ``system.tables`` surfaces as ``system_tables``.)"""
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")

    def system_tables(self) -> DataFrame:
        rows = [
            {"schema_name": e.schema_name, "table_name": e.name}
            for e in self.tables.values()
        ]
        return self.spark.createDataFrame(
            rows, schema="schema_name string, table_name string"
        ) if rows else self.spark.createDataFrame([], "schema_name string, table_name string")

    def system_columns(self) -> DataFrame:
        rows = []
        for e in self.tables.values():
            for i, c in enumerate(e.columns):
                rows.append(
                    {
                        "table_name": e.name,
                        "ordinal": i,
                        "column_name": c.name,
                        "data_type": c.etype.render(),
                        "primary_key": c.primary_key,
                        "is_nullable": c.etype.nullable,
                        "metric_key": c.metric is not None,
                        "metric": c.metric,
                        "default_expr": _render_default(c.default),
                    }
                )
        schema = (
            "table_name string, ordinal int, column_name string, data_type string, "
            "primary_key boolean, is_nullable boolean, metric_key boolean, "
            "metric string, default_expr string"
        )
        return (
            self.spark.createDataFrame(rows, schema=schema)
            if rows
            else self.spark.createDataFrame([], schema)
        )


def _eval_value(expr: object) -> object:
    """Driver-side evaluation of INSERT atoms: constants and the two
    generator functions (functions.rs:16-21)."""
    if isinstance(expr, ast.Const):
        return expr.value
    if isinstance(expr, ast.FuncCall):
        if expr.name == "ULID":
            return ulid()
        if expr.name == "NOW":
            return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        raise EmdriveValidationError(f"Unknown function {expr.name}().")
    if isinstance(expr, ast.Ident):
        raise EmdriveValidationError(
            f"Column reference {expr.name!r} is not allowed in VALUES."
        )
    return expr  # already a python value


def _coerce(cdef: ast.ColumnDef, value: object) -> object:
    et: EmdriveType = cdef.etype
    if value is None:
        return None
    if et.base.startswith("UINT") and isinstance(value, (int, bool)):
        value = int(value)
        if value < 0:
            raise EmdriveValidationError(
                f"Column {cdef.name} is unsigned; got {value}."
            )
        bits = int(et.base[4:])
        if value >= 1 << bits:
            raise EmdriveValidationError(
                f"Value {value} out of range for {et.base} column {cdef.name}."
            )
        if et.base in {"UINT64", "UINT128"}:
            import decimal

            if value >= 10**38:
                # DECIMAL(38,0) storage ceiling (types.py documented
                # edge: UINT128 max exceeds it). Reject at INSERT time
                # with the remedy — before this check, the row was
                # ACCEPTED and then every later statement on the table
                # failed with a runtime decimal overflow, poisoning the
                # table until restart.
                raise EmdriveValidationError(
                    f"Value {value} for {et.base} column {cdef.name} exceeds "
                    f"the DECIMAL(38,0) storage range (< 1e38); store "
                    f"hash-style 128-bit values in a BINARY column instead."
                )
            return decimal.Decimal(value)
        return value
    if et.base == "BINARY" and isinstance(value, int) and not isinstance(value, bool):
        # integer hash literal (0x... / 0b...) → 16-byte big-endian, the
        # storage form for hashes wider than DECIMAL(38,0) holds exactly
        # (UINT128-max edge, types.py)
        if value < 0:
            raise EmdriveValidationError(
                f"Column {cdef.name} is a binary hash; got negative {value}."
            )
        if value >= 1 << 128:
            raise EmdriveValidationError(
                f"Value {value} exceeds 128 bits for BINARY column {cdef.name}."
            )
        return value.to_bytes(16, "big")
    if et.base == "STRING" and isinstance(value, str):
        if et.length is not None and len(value) > et.length:
            raise EmdriveValidationError(
                f"Value of length {len(value)} exceeds STRING({et.length}) "
                f"for column {cdef.name}."
            )
        return value
    if et.base == "TIMESTAMP" and isinstance(value, str):
        # ISO-8601 literal, stored at µs precision (declared semantics,
        # README.md:15; the reference code truncates to seconds —
        # a README/code discrepancy, we follow the README. SURVEY §1.2)
        return _dt.datetime.fromisoformat(value)
    return value


def _range(lo: object, hi: object) -> tuple[object, object]:
    """A segment's PK range, kept only for key types whose Python order
    is the Parquet statistics order: unsigned integers (int or integral
    Decimal), strings (code point = UTF-8 byte order) and binary
    (unsigned bytes). Anything else is unknown: (None, None)."""
    import decimal

    out = []
    for v in (lo, hi):
        if isinstance(v, decimal.Decimal):
            v = int(v)
        if not isinstance(v, (int, str, bytes)):
            return None, None
        out.append(v)
    return out[0], out[1]


def _bound_to_json(v: object) -> object:
    return {"hex": v.hex()} if isinstance(v, bytes) else v


def _bound_from_json(v: object) -> object:
    return bytes.fromhex(v["hex"]) if isinstance(v, dict) else v


def _default_to_json(expr: ast.Expr | None) -> dict | None:
    if expr is None:
        return None
    if isinstance(expr, ast.Const):
        return {"kind": "const", "value": expr.value}
    if isinstance(expr, ast.FuncCall):
        return {"kind": "func", "name": expr.name}
    raise EmdriveValidationError(f"Unserializable default {expr!r}.")


def _default_from_json(d: dict | None) -> ast.Expr | None:
    if d is None:
        return None
    if d["kind"] == "const":
        return ast.Const(d["value"])
    return ast.FuncCall(d["name"])


def _render_default(expr: ast.Expr | None) -> str | None:
    if expr is None:
        return None
    if isinstance(expr, ast.Const):
        return repr(expr.value)
    if isinstance(expr, ast.FuncCall):
        return f"{expr.name}()"
    return str(expr)
