"""Engine: the SQL facade over SparkSession + Catalog.

Statement lifecycle (contrast SURVEY §3: the reference re-parses every SQL
string up to 3x through Calcite and hand-dispatches to per-shape executors
— QueryService.java:80, kv/KvQueryExecutor.java:90-175): here a thin
regex *router* classifies only the statements Spark SQL itself cannot run
(pg DDL/DML on managed tables, enums, sequences, COPY, materialized
views); everything query-shaped goes through ``preprocess`` ->
``spark.sql`` and Catalyst owns parse/analyze/optimize/execute.

Storage: managed tables are versioned parquet directories
(``tables/<name>/v<k>``). UPDATE/DELETE/TRUNCATE write ``v<k+1>`` then
flip the catalog pointer — the same O(1) lazy-drop/truncate trick the
reference plays with truncateTimestamp (kv/TableMetadata.java:119-141),
minus the background vacuum: old versions are retained as immutable
snapshots for ``VERSION AS OF`` until ``VACUUM`` removes them. CREATE
TABLE makes ``v1`` as an empty directory, so it runs no Spark job. On a
Delta/Iceberg deployment this class delegates to the table format;
semantics are identical.

Constraint enforcement (reference kv/KvQueryExecutor.java:4276-4472):
every validated write (INSERT, upsert, UPDATE, MERGE, COPY FROM) goes
through ``_commit``: the batch is written once as the staged version
``v<k+1>``, one aggregate over the staged files counts CHECK, NOT NULL,
ENUM and UNIQUE/PK violations, one anti-join per FK checks existence, and
only then is the pointer flipped. Nothing is cached; a violation deletes
the staged directory.

Results the engine builds itself (the ``status, rows`` command tag, SHOW,
EXPLAIN ANALYZE lines, VERIFY CONSTRAINTS, the pg_catalog views, empty
tables) are VALUES relations (``literals.values_frame``): the JVM plans
them as a LocalRelation, so collecting one runs no Spark job. DELETE,
UPDATE and CTAS count their rows with an ``Observation`` on the write they
run anyway.
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_sql_spark.catalog import Catalog, ColumnMeta, TableMeta, ViewMeta
from cassandra_sql_spark.functions import register_pg_functions
from cassandra_sql_spark.literals import sql_ident, sql_literal, values_frame
from cassandra_sql_spark.profile import node_metrics, plan_nodes
from cassandra_sql_spark.sqlfront.preprocess import (
    _mask_literals,
    _unmask,
    map_pg_type,
    preprocess,
)

_IDENT = r"[A-Za-z_][\w]*"


class EngineError(Exception):
    pass


_DOLLAR_TAG = re.compile(r"\$[A-Za-z_]*\$")


def _extract_check(text: str) -> str | None:
    """The balanced-paren body of the first CHECK (...) in ``text``
    (CHECK expressions may nest parens; a naive regex truncates)."""
    m = re.search(r"\bCHECK\s*\(", text, re.IGNORECASE)
    if not m:
        return None
    depth, start = 1, m.end()
    for i in range(start, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[start:i].strip()
    return None


def split_statements(sql: str) -> list[str]:
    """Split on semicolons outside quotes (reference StatementSplitter).

    Handles ``'...'``, ``"..."``, and pg dollar-quoted bodies — ``$$...$$``
    or tagged ``$tag$...$tag$`` — whose contents may hold semicolons and
    ordinary quotes (DO blocks, CREATE FUNCTION bodies)."""
    out: list[str] = []
    cur: list[str] = []
    quote: str | None = None  # "'", '"', or a dollar tag like "$$"/"$fn$"
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if quote:
            if sql.startswith(quote, i):
                cur.append(quote)
                i += len(quote)
                quote = None
                continue
            cur.append(ch)
        elif ch in ("'", '"'):
            quote = ch
            cur.append(ch)
        elif ch == "$":
            m = _DOLLAR_TAG.match(sql, i)
            if m:
                quote = m.group(0)
                cur.append(quote)
                i += len(quote)
                continue
            cur.append(ch)
        elif ch == ";":
            s = "".join(cur).strip()
            if s:
                out.append(s)
            cur = []
        else:
            cur.append(ch)
        i += 1
    s = "".join(cur).strip()
    if s:
        out.append(s)
    return out


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or os.path.join(
            os.getcwd(), ".warehouse", "engine"
        )
        self.catalog = Catalog(self.warehouse)
        register_pg_functions(spark)
        for meta in self.catalog.tables.values():
            self._register(meta)
        for view in self.catalog.views.values():
            self._register_view(view)
        for fname, fmeta in self.catalog.functions.items():
            self._register_function(fname, fmeta)
        # the pg_catalog views are built on first read (see ``sql``)
        self._pg_stale = True

    # ------------------------------------------------------------------ util

    def _rows(self, rows, ddl: str) -> DataFrame:
        """Driver-held rows as a VALUES relation: collected without a
        Spark job (see ``literals``)."""
        return values_frame(self.spark, rows, ddl)

    def _status(self, msg: str, n: int = -1) -> DataFrame:
        return self._rows([(msg, n)], "status string, rows bigint")

    def _register(self, meta: TableMeta) -> None:
        if os.path.exists(meta.path):
            df = self.spark.read.schema(meta.spark_ddl()).parquet(meta.path)
        else:
            df = self._rows([], meta.spark_ddl())
        visible = [c.name for c in meta.columns if not c.hidden]
        if len(visible) != len(meta.columns):
            # hidden rowid (reference kv/SchemaManager.java:736): SELECT *
            # must not show it, but explicit `rowid` references resolve via
            # the raw view (rewrite in _one)
            df.createOrReplaceTempView(f"__raw_{meta.name}")
            df = df.select(*visible)
        df.createOrReplaceTempView(meta.name)

    def _register_view(self, view: ViewMeta) -> None:
        if view.materialized:
            if os.path.exists(view.path):
                self.spark.read.parquet(view.path).createOrReplaceTempView(
                    view.name
                )
        else:
            self.spark.sql(preprocess(view.sql)).createOrReplaceTempView(
                view.name
            )

    # Standard PostgreSQL type OIDs, mirroring the reference's seeded
    # pg_type rows (kv/PgCatalogManager.java:285-291, addType:362) plus the
    # PG17 OIDs for types our DDL accepts beyond the reference's seven.
    _PG_TYPES: tuple = (
        (16, "bool", "B", 1),
        (20, "int8", "N", 8),
        (21, "int2", "N", 2),
        (23, "int4", "N", 4),
        (25, "text", "S", -1),
        (700, "float4", "N", 4),
        (701, "float8", "N", 8),
        (1043, "varchar", "S", -1),
        (1082, "date", "D", 4),
        (1114, "timestamp", "D", 8),
        (1184, "timestamptz", "D", 8),
        (1700, "numeric", "N", -1),
        (3802, "jsonb", "U", -1),
    )

    @classmethod
    def _type_oid(cls, sql_type: str) -> int:
        t = sql_type.upper()
        if t.startswith(("VARCHAR", "CHAR")):
            return 1043
        if t.startswith(("DECIMAL", "NUMERIC")):
            return 1700
        base = {
            "BOOLEAN": 16, "BOOL": 16,
            "BIGINT": 20, "INT8": 20, "BIGSERIAL": 20,
            "SMALLINT": 21, "INT2": 21,
            "INT": 23, "INTEGER": 23, "INT4": 23, "SERIAL": 23,
            "REAL": 700, "FLOAT4": 700,
            "DOUBLE PRECISION": 701, "DOUBLE": 701, "FLOAT8": 701,
            "FLOAT": 701,
            "DATE": 1082,
            # tz-aware columns report PG's timestamptz OID even though
            # Spark-side storage stays TIMESTAMP (session-tz semantics).
            "TIMESTAMP": 1114, "TIMESTAMPTZ": 1184,
            "JSONB": 3802, "JSON": 3802,
        }
        return base.get(t, 25)  # enums/unknown render as text, like psql

    def _register_pg_catalog(self) -> None:
        """pg_catalog introspection views over the metastore.

        The reference materializes pg_namespace/pg_class/pg_attribute/
        pg_type/pg_index/pg_proc/pg_database as real KV tables so psql/JDBC
        introspection works (kv/PgCatalogManager.java:23-36). Here they are
        temp views rebuilt before the first statement that names a
        ``pg_*`` relation after a DDL; hidden system columns are
        excluded, matching what the reference's catalog exposes. Relation
        OIDs are assigned from 16384 (the PG user-object floor) in sorted
        registration order so `\\d`-style joins across
        pg_class/pg_attribute/pg_type/pg_index work.
        """
        self._pg_stale = False
        tables = sorted(self.catalog.tables.values(), key=lambda t: t.name)
        views = sorted(self.catalog.views.values(), key=lambda v: v.name)
        oid = 16384
        rel: list = []          # (oid, relname, relkind, relnamespace)
        rel_oid: dict = {}
        for t in tables:
            rel.append((oid, t.name, "r", 2200))
            rel_oid[t.name] = oid
            oid += 1
        for v in views:
            rel.append((oid, v.name, "m" if v.materialized else "v", 2200))
            rel_oid[v.name] = oid
            oid += 1
        # PK/unique index relations, like the reference's addIndex
        # (kv/PgCatalogManager.java:653-733): every PK gets a *_pkey row
        # with indisprimary=true; declared UNIQUE constraints get *_key.
        idx: list = []  # (indexrelid, indrelid, relname, indkey, isprimary)
        for t in tables:
            # pg folds unquoted identifiers: attnum lookups and the
            # PK-vs-UNIQUE dedupe compare are case-insensitive
            attnum = {
                c.name.lower(): i + 1
                for i, c in enumerate(
                    cc for cc in t.columns if not cc.hidden
                )
            }
            pk_folded = [c.lower() for c in t.primary_key]
            keysets = []
            if t.primary_key:
                keysets.append((f"{t.name}_pkey", t.primary_key, True))
            for ucols in t.unique:
                if [c.lower() for c in ucols] == pk_folded:
                    continue  # the PK's implicit unique set IS the pkey
                keysets.append((f"{t.name}_{'_'.join(ucols)}_key", ucols,
                                False))
            for iname, cols, isp in keysets:
                rel.append((oid, iname, "i", 2200))
                idx.append((
                    oid, rel_oid[t.name], iname,
                    " ".join(str(attnum.get(c.lower(), 0)) for c in cols),
                    isp, t.name, cols,
                ))
                oid += 1
        self._rows(
            rel,
            "oid bigint, relname string, relkind string, "
            "relnamespace bigint",
        ).createOrReplaceTempView("pg_class")
        self._rows(
            [("public", t.name) for t in tables],
            "schemaname string, tablename string",
        ).createOrReplaceTempView("pg_tables")
        attrs = [
            (rel_oid[t.name], t.name, c.name, c.sql_type,
             self._type_oid(c.enum_type or c.sql_type), i + 1,
             not c.nullable)
            for t in tables
            for i, c in enumerate(cc for cc in t.columns if not cc.hidden)
        ]
        self._rows(
            attrs,
            "attrelid bigint, relname string, attname string, "
            "atttype string, atttypid bigint, attnum int, "
            "attnotnull boolean",
        ).createOrReplaceTempView("pg_attribute")
        self._rows(
            [(2200, "public"), (11, "pg_catalog")],
            "oid bigint, nspname string",
        ).createOrReplaceTempView("pg_namespace")
        self._rows(
            [(o, n, 11, c, ln) for o, n, c, ln in self._PG_TYPES],
            "oid bigint, typname string, typnamespace bigint, "
            "typcategory string, typlen int",
        ).createOrReplaceTempView("pg_type")
        self._rows(
            [(i[0], i[1], len(i[3].split()), True, i[4], i[3])
             for i in idx],
            "indexrelid bigint, indrelid bigint, indnatts int, "
            "indisunique boolean, indisprimary boolean, indkey string",
        ).createOrReplaceTempView("pg_index")
        # pg_proc: built-in functions stay out (mirrors the reference,
        # which creates the table and inserts nothing) but user
        # CREATE FUNCTION rows appear with their declared return type,
        # so psql's \df lists them.
        self._rows(
            [
                (16384 + i, name, 2200,
                 self._type_oid(meta["returns_pg"]))
                for i, (name, meta) in enumerate(
                    sorted(self.catalog.functions.items())
                )
            ],
            "oid bigint, proname string, pronamespace bigint, "
            "prorettype bigint",
        ).createOrReplaceTempView("pg_proc")
        self._rows(
            [(5, "cassandra_sql", 10, 6)],
            "oid bigint, datname string, datdba bigint, encoding int",
        ).createOrReplaceTempView("pg_database")
        # pg_constraint: PK ('p'), declared UNIQUE ('u'), FK ('f') rows with
        # conkey/confkey attnum vectors — the psql-queried column subset of
        # the reference's full definition (kv/PgCatalogTable.java:235-267).
        cons: list = []
        idx_by_table: dict = {}
        for i in idx:
            if i[4]:  # primary index for that table
                idx_by_table[i[5]] = i[0]
        for t in tables:
            attnum = {
                c.name.lower(): i + 1
                for i, c in enumerate(
                    cc for cc in t.columns if not cc.hidden
                )
            }

            # referenced columns may be stored in parser case — match
            # pg semantics (unquoted identifiers fold) via lowercase keys
            def _vec(cols, am=attnum):
                return (
                    "{" + ",".join(str(am.get(c.lower(), 0)) for c in cols)
                    + "}"
                )

            if t.primary_key:
                cons.append((oid, f"{t.name}_pkey", "p", rel_oid[t.name],
                             idx_by_table.get(t.name, 0), 0,
                             _vec(t.primary_key), None, None))
                oid += 1
            for ucols in t.unique:
                # case-fold like the pg_index dedupe — a UNIQUE spelled in
                # different case than the PK is still the same constraint
                if [c.lower() for c in ucols] == [
                    c.lower() for c in t.primary_key
                ]:
                    continue
                cons.append((oid, f"{t.name}_{'_'.join(ucols)}_key", "u",
                             rel_oid[t.name], 0, 0, _vec(ucols), None,
                             None))
                oid += 1
            for i_c, expr in enumerate(t.checks):
                cons.append((oid, f"{t.name}_check{i_c + 1}", "c",
                             rel_oid[t.name], 0, 0, None, None,
                             f"CHECK ({expr})"))
                oid += 1
            for fk in t.foreign_keys:
                fcols, reftable, refcols = fk[0], fk[1], fk[2]
                ref = self.catalog.tables.get(reftable)
                ref_attnum = (
                    {
                        c.name.lower(): i + 1
                        for i, c in enumerate(
                            cc for cc in ref.columns if not cc.hidden
                        )
                    }
                    if ref
                    else {}
                )
                cons.append((
                    oid, f"{t.name}_{'_'.join(fcols)}_fkey", "f",
                    rel_oid[t.name], 0, rel_oid.get(reftable, 0),
                    _vec(fcols), _vec(refcols, ref_attnum), None,
                ))
                oid += 1
        self._rows(
            cons,
            "oid bigint, conname string, contype string, conrelid bigint, "
            "conindid bigint, confrelid bigint, conkey string, "
            "confkey string, consrc string",
        ).createOrReplaceTempView("pg_constraint")
        # pg_indexes: the simplified psql-compat view
        # (kv/PgCatalogTable.java:341-356)
        self._rows(
            [("public", i[5], i[2],
              f"CREATE {'UNIQUE ' if i[4] else ''}INDEX {i[2]} "
              f"ON {i[5]} ({', '.join(i[6])})")
             for i in idx],
            "schemaname string, tablename string, indexname string, "
            "indexdef string",
        ).createOrReplaceTempView("pg_indexes")
        # pg_am / pg_roles / pg_tablespace: the reference's seeded system
        # rows (kv/PgCatalogManager.java:335 addAccessMethod + class doc).
        self._rows(
            [(2, "heap", "t"), (403, "btree", "i")],
            "oid bigint, amname string, amtype string",
        ).createOrReplaceTempView("pg_am")
        self._rows(
            [(10, "postgres", True, True)],
            "oid bigint, rolname string, rolsuper boolean, "
            "rolcanlogin boolean",
        ).createOrReplaceTempView("pg_roles")
        self._rows(
            [(1663, "pg_default")], "oid bigint, spcname string",
        ).createOrReplaceTempView("pg_tablespace")
        # pg_attrdef: identity/SERIAL columns surface their implicit
        # sequence default; pg_description has no comment support -> empty.
        attrdef = [
            (oid + j, rel_oid[t.name], i + 1,
             f"nextval('{t.name}_{c.name}_seq'::regclass)")
            for j, (t, i, c) in enumerate(
                (t, i, c)
                for t in tables
                for i, c in enumerate(
                    cc for cc in t.columns if not cc.hidden
                )
                if c.identity
            )
        ]
        self._rows(
            attrdef,
            "oid bigint, adrelid bigint, adnum int, adbin string",
        ).createOrReplaceTempView("pg_attrdef")
        self._rows(
            [], "objoid bigint, classoid bigint, objsubid int, "
                "description string",
        ).createOrReplaceTempView("pg_description")
        stat_rows = [
            (t.name, col, int(t.stats["n_rows"]), int(cs["n_distinct"]),
             float(cs["null_frac"]), cs["min"], cs["max"])
            for t in tables
            if t.stats
            for col, cs in sorted(t.stats.get("columns", {}).items())
        ]
        self._rows(
            stat_rows,
            "tablename string, attname string, n_rows bigint, "
            "n_distinct bigint, null_frac double, min_value string, "
            "max_value string",
        ).createOrReplaceTempView("pg_stats")

    def _table(self, name: str) -> TableMeta:
        if name not in self.catalog.tables:
            raise EngineError(f"table not found: {name}")
        return self.catalog.tables[name]

    def _read(self, meta: TableMeta) -> DataFrame:
        if os.path.exists(meta.path):
            return self.spark.read.schema(meta.spark_ddl()).parquet(meta.path)
        return self._rows([], meta.spark_ddl())

    @staticmethod
    def _next_version(meta: TableMeta) -> str:
        """Directory of the version after ``meta.path``: ``v<k+1>`` beside
        a versioned path, ``v1`` inside an unversioned one."""
        m = re.search(r"/v(\d+)$", meta.path)
        if not m:
            return os.path.join(meta.path, "v1")
        return os.path.join(
            os.path.dirname(meta.path), f"v{int(m.group(1)) + 1}"
        )

    def _write_version(self, meta: TableMeta, df: DataFrame) -> str:
        """Write ``df`` as the next version's directory; the catalog still
        points at the current one."""
        path = self._next_version(meta)
        writer = df.write.mode("overwrite")
        if meta.partition_by:
            # hive-style dirs: SELECTs with a partition-column predicate
            # prune whole directories before any task launches
            writer = writer.partitionBy(*meta.partition_by)
        writer.parquet(path)
        return path

    def _publish(self, meta: TableMeta, path: str) -> None:
        """Flip the catalog pointer to a written version. Older vN dirs
        are RETAINED: immutable snapshots that serve `SELECT ... VERSION
        AS OF n` (Delta/Iceberg time-travel analog; the reference keeps
        old MVCC versions the same way until VacuumJob). `VACUUM <table>`
        reclaims them."""
        meta.path = path
        self.catalog.save()
        self._register(meta)

    def _rewrite(self, meta: TableMeta, df: DataFrame) -> None:
        """Write a new table version and flip the pointer, unchecked: for
        statements that cannot break a constraint (DELETE, OPTIMIZE,
        ALTER; TRUNCATE publishes an empty directory). Validated writes
        go through ``_commit``."""
        self._publish(meta, self._write_version(meta, df))

    def _commit(
        self, meta: TableMeta, batch: DataFrame, append: bool
    ) -> tuple[int, DataFrame]:
        """The validated write of every DML statement.

        ``batch`` is computed exactly once, by its write into the staged
        version ``v<k+1>`` — for an append the new rows only, otherwise
        the whole new table. One aggregate over the staged files (for an
        append, tagged-unioned with the current version's key columns)
        then counts the rows and every violation, and one anti-join per
        FK checks references. If all are clean, an append hard-links the
        current version's files in (no data copy — the Delta-log analog
        of 'new snapshot = old files + appended files') and the pointer
        flips. On a violation or any exception the staged directory is
        deleted, so table, catalog and disk are left as they were.

        Returns the row count and the written rows: a read of the staged
        directory whose file listing is taken before the old files are
        linked in, so it holds exactly the published batch."""
        # listed before the write: an unversioned path gets v1 inside it
        existing = self._read(meta) if append and meta.unique else None
        staged = self._next_version(meta)
        try:
            self._write_version(meta, batch)
            written = self.spark.read.schema(meta.spark_ddl()).parquet(staged)
            n, error = self._violations(meta, written, existing)
            error = error or self._fk_violation(meta, written)
            if error:
                raise EngineError(error)
            if append and os.path.isdir(meta.path):
                self._link_files(meta.path, staged)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        self._publish(meta, staged)
        return n, written

    @staticmethod
    def _link_files(src: str, dst: str) -> None:
        """Hard-link every parquet file of version ``src`` into ``dst``.
        The walk is recursive: partitioned tables keep their data under
        hive-style key=value subdirectories."""
        for root, dirs, files in os.walk(src):
            # an unversioned table path holds its first version inside
            dirs[:] = [d for d in dirs if os.path.join(root, d) != dst]
            rel = os.path.relpath(root, src)
            dst_dir = dst if rel == "." else os.path.join(dst, rel)
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                os.makedirs(dst_dir, exist_ok=True)
                try:
                    os.link(os.path.join(root, f), os.path.join(dst_dir, f))
                except OSError:
                    shutil.copy2(os.path.join(root, f), dst_dir)

    # ------------------------------------------------------------- dispatch

    # statements that can change what the pg_catalog views show
    _CATALOG_DDL = re.compile(
        r"\s*(CREATE|DROP|ALTER|TRUNCATE|REFRESH|ANALYZE)\b", re.IGNORECASE
    )
    _PG_RELATION = re.compile(r"\bpg_\w+", re.IGNORECASE)

    def sql(self, text: str) -> DataFrame:
        """Execute one or more statements; returns the last result.

        DDL only marks the ~17 pg_catalog views stale; they are rebuilt
        once, before the first statement whose text names a ``pg_*``
        relation, so a script that never reads them never builds them.

        An exception keeps its type and message and gets a note naming
        the failing statement's 1-based position and its first 200
        characters. A script with no statement answers ``("ok", 0)``."""
        result = None
        for i, stmt in enumerate(split_statements(text), 1):
            if self._pg_stale and self._PG_RELATION.search(stmt):
                self._register_pg_catalog()
            if self._CATALOG_DDL.match(stmt):
                self._pg_stale = True
            try:
                result = self._one(stmt)
            except Exception as e:
                e.add_note(f"in statement {i}: {stmt.strip()[:200]}")
                raise
        return self._status("ok", 0) if result is None else result

    def _one(self, stmt: str) -> DataFrame:
        s = stmt.strip()
        head = re.match(r"(\w+)(?:\s+(\w+))?(?:\s+(\w+))?", s)
        kw = tuple(w.upper() if w else "" for w in (head.groups() if head else ()))

        if kw[0] in ("BEGIN", "COMMIT", "ROLLBACK", "START"):
            # multi-statement transactions are out of scope (SURVEY §2.9);
            # each statement is individually atomic via version flips.
            return self._status(f"{kw[0].lower()} (no-op: autocommit engine)")
        if kw[0] == "DO":
            # DO blocks: parity with the reference, which accepts them and
            # treats the body as a no-op pending a PL/pgSQL interpreter
            # (QueryService.java:101-106). The splitter keeps the $$ body
            # intact as one statement.
            return self._status("do (no-op: procedural bodies not executed)")
        if kw[0] == "SET":
            return self._set(s)
        if kw[0] == "SHOW":
            return self._show(s)
        if kw[0] == "VACUUM":
            return self._vacuum(s)
        if kw[0] == "ANALYZE":
            return self._analyze(s)
        if kw[0] == "VERIFY":
            return self._verify_constraints(s)
        if kw[0] == "OPTIMIZE":
            return self._optimize(s)
        if kw[0] == "SELECT" and re.search(
            r"\bVERSION\s+AS\s+OF\s+\d+", s, re.IGNORECASE
        ):
            return self._select_asof(s)
        if kw[0] == "CREATE" and kw[1] == "TYPE":
            return self._create_type(s)
        if kw[0] == "DROP" and kw[1] == "TYPE":
            return self._drop_simple(s, "type")
        if kw[0] == "CREATE" and kw[1] == "SEQUENCE":
            return self._create_sequence(s)
        if kw[0] == "DROP" and kw[1] == "SEQUENCE":
            return self._drop_simple(s, "sequence")
        if kw[0] == "CREATE" and kw[1] == "TABLE":
            return self._create_table(s)
        if kw[0] == "DROP" and kw[1] == "TABLE":
            return self._drop_table(s)
        if kw[0] == "TRUNCATE":
            return self._truncate(s)
        if kw[0] == "ALTER" and kw[1] == "TABLE":
            return self._alter_table(s)
        if kw[0] == "CREATE" and (
            kw[1] == "VIEW" or (kw[1] == "OR" and "VIEW" in s.upper()[:30])
            or kw[1] == "MATERIALIZED"
        ):
            return self._create_view(s)
        if kw[0] == "REFRESH":
            return self._refresh_mv(s)
        if kw[0] == "DROP" and kw[1] in ("VIEW", "MATERIALIZED"):
            return self._drop_view(s)
        if kw[0] == "CREATE" and (
            kw[1] == "FUNCTION"
            or (kw[1] == "OR" and re.match(
                r"CREATE\s+OR\s+REPLACE\s+FUNCTION\b", s, re.IGNORECASE
            ))
        ):
            return self._create_function(s)
        if kw[0] == "DROP" and kw[1] == "FUNCTION":
            return self._drop_function(s)
        if kw[0] == "INSERT":
            return self._insert(s)
        if kw[0] == "UPDATE":
            return self._update(s)
        if kw[0] == "DELETE":
            return self._delete(s)
        if kw[0] == "MERGE":
            return self._merge(s)
        if kw[0] == "COPY":
            return self._copy(s)
        if kw[0] == "EXPLAIN":
            return self._explain(s)
        # sequence functions in scalar selects
        if re.search(r"\b(nextval|currval)\s*\(", s, re.IGNORECASE):
            s = self._substitute_sequences(s)
        if re.search(r"\browid\b", s, re.IGNORECASE):
            # explicit rowid reference -> route rowid-bearing tables to
            # their raw (hidden-column-included) views
            for name, meta in self.catalog.tables.items():
                if any(c.hidden for c in meta.columns):
                    s = re.sub(rf"\b{name}\b", f"__raw_{name}", s)
        return self.spark.sql(preprocess(s))

    # ----------------------------------------------------------------- DDL

    # pg session-setting defaults answered by SHOW (⬆ — absent in the
    # reference; JDBC/psql issue these right after connecting)
    _SHOW_DEFAULTS = {
        "server_version": "14.0",
        "server_encoding": "UTF8",
        "client_encoding": "UTF8",
        "transaction isolation level": "read committed",
        "transaction_isolation": "read committed",
        "timezone": "UTC",
        "time zone": "UTC",
        "search_path": "public",
        "standard_conforming_strings": "on",
        "datestyle": "ISO, MDY",
    }

    # Spark's own SHOW metadata commands — pass through, don't treat as GUCs
    _SPARK_SHOW = (
        "TABLES", "VIEWS", "FUNCTIONS", "DATABASES", "SCHEMAS", "COLUMNS",
        "PARTITIONS", "CREATE", "TBLPROPERTIES", "CATALOGS",
    )

    def _show(self, s: str) -> DataFrame:
        rest = re.sub(r"^SHOW\s+", "", s, flags=re.IGNORECASE).strip()
        first = rest.split(None, 1)[0].upper() if rest else ""
        if first in self._SPARK_SHOW:
            return self.spark.sql(s)
        name = self._fold_guc(rest)
        try:
            val = self.spark.conf.get(name)
        except Exception:
            val = self._SHOW_DEFAULTS.get(name)
        if val is None:
            raise EngineError(f"unrecognized configuration parameter: {name}")
        col = name if re.fullmatch(r"[a-z_][a-z0-9_]*", name) else "setting"
        return self._rows([(val,)], f"{col} string")

    @staticmethod
    def _fold_guc(name: str) -> str:
        """pg GUC names are case-insensitive (fold to lower); Spark conf
        keys (spark.*) are case-sensitive and pass through untouched.
        'time zone' (the SHOW/SET keyword spelling) canonicalizes to the
        'timezone' GUC so both spellings read/write the same setting."""
        name = name.strip()
        if name.lower().startswith("spark."):
            return name
        name = name.lower()
        return "timezone" if name == "time zone" else name

    def _set_guc(self, name: str, value: str) -> None:
        if name == "timezone":
            if value.upper() in ("LOCAL", "DEFAULT"):
                value = self._SHOW_DEFAULTS["timezone"]
            # mirror into Spark so the reported and the EFFECTIVE session
            # timezone can't diverge (timestamp rendering, date_trunc, …)
            self.spark.conf.set("spark.sql.session.timeZone", value)
        self.spark.conf.set(name, value)

    def _set(self, s: str) -> DataFrame:
        # pg's primary spelling `SET TIME ZONE <value>` has no =/TO
        m = re.match(
            r"SET\s+(?:SESSION\s+|LOCAL\s+)?TIME\s+ZONE\s+(.+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            self._set_guc("timezone", m.group(1).strip().strip("'"))
            return self._status("set")
        m = re.match(
            r"SET\s+(?:SESSION\s+|LOCAL\s+)?(\S+)\s*(?:=|TO)\s*(.+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            # same GUC case-folding as SHOW, so SET TimeZone / SHOW timezone
            # agree (pg names are case-insensitive; spark.* keys are not)
            self._set_guc(
                self._fold_guc(m.group(1)),
                m.group(2).strip().strip("'"),
            )
        return self._status("set")

    def _create_type(self, s: str) -> DataFrame:
        m = re.match(
            rf"CREATE\s+TYPE\s+({_IDENT})\s+AS\s+ENUM\s*\((.*)\)\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"unsupported CREATE TYPE: {s[:80]}")
        vals = [v.strip().strip("'") for v in m.group(2).split(",")]
        self.catalog.create_enum(m.group(1).lower(), vals)
        return self._status(f"create type {m.group(1)}")

    def _create_sequence(self, s: str) -> DataFrame:
        m = re.match(
            rf"CREATE\s+SEQUENCE\s+(?:IF\s+NOT\s+EXISTS\s+)?({_IDENT})(.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad CREATE SEQUENCE: {s[:80]}")
        name, rest = m.group(1).lower(), m.group(2)
        start = re.search(r"START\s+(?:WITH\s+)?(-?\d+)", rest, re.IGNORECASE)
        inc = re.search(r"INCREMENT\s+(?:BY\s+)?(-?\d+)", rest, re.IGNORECASE)
        self.catalog.create_sequence(
            name,
            int(start.group(1)) if start else 1,
            int(inc.group(1)) if inc else 1,
        )
        return self._status(f"create sequence {name}")

    def _drop_simple(self, s: str, kind: str) -> DataFrame:
        m = re.match(
            rf"DROP\s+\w+\s+(?:IF\s+EXISTS\s+)?({_IDENT})", s, re.IGNORECASE
        )
        name = m.group(1).lower()
        try:
            if kind == "type":
                self.catalog.drop_enum(name)
            else:
                self.catalog.drop_sequence(name)
        except KeyError:
            if "IF EXISTS" not in s.upper():
                raise EngineError(f"{kind} not found: {name}") from None
        return self._status(f"drop {kind} {name}")

    def _split_defs(self, body: str) -> list[str]:
        parts, depth, cur, quote = [], 0, [], None
        for ch in body:
            if quote:
                cur.append(ch)
                if ch == quote:
                    quote = None
            elif ch == "'":
                quote = ch
                cur.append(ch)
            elif ch == "(":
                depth += 1
                cur.append(ch)
            elif ch == ")":
                depth -= 1
                cur.append(ch)
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if "".join(cur).strip():
            parts.append("".join(cur).strip())
        return parts

    _SPARK_TO_SQL = {
        "string": "TEXT", "bigint": "BIGINT", "int": "INTEGER",
        "smallint": "SMALLINT", "double": "DOUBLE PRECISION",
        "float": "REAL", "boolean": "BOOLEAN", "date": "DATE",
        "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
        "binary": "BYTEA",
    }

    def _create_table_as(
        self, if_not_exists: bool, name: str, query: str
    ) -> DataFrame:
        """CTAS (⬆ — the reference only has CREATE [MATERIALIZED] VIEW AS
        SELECT, KvQueryExecutor.java:4824,4898): run the query, derive the
        schema, materialize as a v1 managed table with a hidden rowid PK
        so later UPDATE/DELETE/time-travel behave like any other table."""
        if name in self.catalog.tables:
            if if_not_exists:
                return self._status(f"table {name} exists")
            raise EngineError(f"table exists: {name}")
        df = self.spark.sql(preprocess(query))
        meta = TableMeta(name=name)
        for f in df.schema.fields:
            simple = f.dataType.simpleString()
            base = simple.split("(")[0]
            if simple.startswith("decimal"):
                sql_t = simple.upper().replace("DECIMAL", "NUMERIC")
            else:
                sql_t = self._SPARK_TO_SQL.get(base, simple.upper())
            meta.columns.append(
                ColumnMeta(
                    name=f.name,
                    sql_type=sql_t,
                    spark_type=simple,
                    nullable=bool(f.nullable),
                )
            )
        meta.columns.append(
            ColumnMeta(
                name="rowid", sql_type="BIGINT", spark_type="BIGINT",
                nullable=False, identity=True, hidden=True,
            )
        )
        meta.primary_key = ["rowid"]
        meta.unique.append(["rowid"])
        out = df.withColumn(
            "rowid",
            F.row_number().over(
                Window.orderBy(F.monotonically_increasing_id())
            ).cast("bigint"),
        )
        meta.path = os.path.join(self.catalog.table_path(name), "v1")
        # count the rows on the write itself: re-reading v1 runs more jobs
        written = Observation()
        out.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(meta.path)
        n = written.get["n"]
        self.catalog.add_table(meta)
        self.catalog.create_sequence(f"{name}_rowid_seq", start=n + 1)
        self._register(meta)
        return self._status(f"create table {name} as select", n)

    def _create_table(self, s: str) -> DataFrame:
        # ALL structural parsing (constraint dispatch, DEFAULT/NOT NULL/
        # PRIMARY KEY/CHECK detection) runs on a literal-MASKED copy: a
        # DEFAULT 'where check' literal must not truncate at the CHECK
        # keyword, and 'not null' inside a string must not flip
        # nullability (round-6 fuzz finding). Stored EXPRESSIONS
        # (defaults, checks, generated) are unmasked before persisting.
        orig = s
        s, lits = _mask_literals(s)
        ctas = re.match(
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+AS\s+"
            r"(\(\s*(?:SELECT|WITH|VALUES|TABLE)\b.*"  # pg: AS (SELECT ...)
            r"|(?:SELECT|WITH|VALUES|TABLE)\b.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if ctas:
            return self._create_table_as(
                bool(ctas.group(1)),
                ctas.group(2).lower(),
                _unmask(ctas.group(3), lits),
            )
        # pg declarative partitioning suffix -> hive-style directory
        # layout (value partitioning; LIST semantics — RANGE/HASH degrade
        # to it, a finer grain than either requires)
        partition_by: list[str] = []
        pm = re.search(
            r"\)\s*PARTITION(?:ED)?\s+BY\s+(?:LIST|RANGE|HASH)?\s*"
            r"\(([^)]*)\)\s*$",
            s,
            re.IGNORECASE,
        )
        if pm:
            partition_by = [
                c.strip().lower() for c in pm.group(1).split(",")
            ]
            s = s[: pm.start() + 1]
        m = re.match(
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\((.*)\)\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad CREATE TABLE: {orig[:80]}")
        if_not_exists, name, body = bool(m.group(1)), m.group(2).lower(), m.group(3)
        if name in self.catalog.tables:
            if if_not_exists:
                return self._status(f"table {name} exists")
            raise EngineError(f"table exists: {name}")

        meta = TableMeta(name=name)
        for d in self._split_defs(body):
            du = d.upper()
            # A named table constraint (`CONSTRAINT name ...`) dispatches
            # on what FOLLOWS the name — substring matching ("CHECK" in
            # the whole def) mis-fires when the constraint name, its
            # columns, or the referenced table contain the keyword (e.g.
            # CONSTRAINT fk_x FOREIGN KEY (check_id) REFERENCES
            # checklist(id) must stay an FK, not vanish into the CHECK
            # branch).
            cd = d
            if du.startswith("CONSTRAINT"):
                cd = re.sub(
                    rf"^CONSTRAINT\s+{_IDENT}\s+",
                    "",
                    d,
                    count=1,
                    flags=re.IGNORECASE,
                )
            cu = cd.upper()
            if cu.startswith("PRIMARY KEY"):
                meta.primary_key = re.findall(_IDENT, cd[len("PRIMARY KEY"):])
                continue
            if cu.startswith("UNIQUE"):
                meta.unique.append(re.findall(_IDENT, cd[len("UNIQUE"):]))
                continue
            if re.match(r"CHECK\s*\(", cu):
                expr = _extract_check(cd)
                if expr:
                    meta.checks.append(_unmask(expr, lits))
                continue
            if cu.startswith("FOREIGN KEY"):
                fk = re.search(
                    rf"FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+({_IDENT})\s*\(([^)]*)\)",
                    cd,
                    re.IGNORECASE,
                )
                if fk:
                    meta.foreign_keys.append(
                        [
                            re.findall(_IDENT, fk.group(1)),
                            fk.group(2).lower(),
                            re.findall(_IDENT, fk.group(3)),
                        ]
                    )
                continue
            cm = re.match(
                rf"({_IDENT})\s+([A-Za-z_]+(?:\s+(?:PRECISION|VARYING))?"
                r"(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
                r"(\s*\[\s*\])?(.*)$",
                d,
                re.DOTALL,
            )
            if not cm:
                raise EngineError(f"bad column def: {d}")
            cname, ctype, is_array, rest = (
                cm.group(1),
                cm.group(2),
                bool(cm.group(3)),
                cm.group(4).upper(),
            )
            base = ctype.strip().upper()
            identity = base in ("SERIAL", "BIGSERIAL", "SMALLSERIAL") or (
                "GENERATED" in rest and "IDENTITY" in rest
            )
            default = None
            dm = re.search(
                r"\bDEFAULT\s+(.*?)(?:\s+(?:NOT\s+NULL|NULL|UNIQUE|"
                r"PRIMARY\s+KEY|REFERENCES|CHECK|GENERATED)\b.*)?$",
                cm.group(4).strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if dm:
                default = _unmask(dm.group(1).strip().rstrip(","), lits)
            generated = None
            gm = re.search(
                r"GENERATED\s+ALWAYS\s+AS\s*\(", cm.group(4), re.IGNORECASE
            )
            if gm and "IDENTITY" not in rest:
                depth, start = 1, gm.end()
                body = cm.group(4)
                for gi in range(start, len(body)):
                    if body[gi] == "(":
                        depth += 1
                    elif body[gi] == ")":
                        depth -= 1
                        if depth == 0:
                            generated = _unmask(body[start:gi].strip(), lits)
                            break
            enum_type = (
                ctype.strip().lower()
                if ctype.strip().lower() in self.catalog.enums
                else None
            )
            spark_type = "STRING" if enum_type else map_pg_type(ctype)
            if is_array:
                spark_type = f"ARRAY<{spark_type}>"
            nullable = "NOT NULL" not in rest and "PRIMARY KEY" not in rest
            if "PRIMARY KEY" in rest:
                meta.primary_key.append(cname)
            if re.search(r"\bUNIQUE\b", rest):
                meta.unique.append([cname])
            fk = re.search(
                rf"REFERENCES\s+({_IDENT})\s*\(\s*({_IDENT})\s*\)",
                rest,
                re.IGNORECASE,
            )
            if fk:
                meta.foreign_keys.append(
                    [[cname], fk.group(1).lower(), [fk.group(2)]]
                )
            inline_check = _extract_check(cm.group(4))
            if inline_check:
                meta.checks.append(_unmask(inline_check, lits))
            meta.columns.append(
                ColumnMeta(
                    name=cname,
                    sql_type=ctype.upper() + ("[]" if is_array else ""),
                    spark_type=spark_type,
                    nullable=nullable and not identity,
                    identity=identity,
                    enum_type=enum_type,
                    generated=generated,
                    default=default,
                )
            )
            if identity:
                self.catalog.create_sequence(f"{name}_{cname}_seq")
        if not meta.primary_key:
            # hidden auto-increment rowid for PK-less tables (reference
            # kv/SchemaManager.java:736, docs/SQL_GRAMMAR.md:440-441)
            meta.columns.append(
                ColumnMeta(
                    name="rowid",
                    sql_type="BIGINT",
                    spark_type="BIGINT",
                    nullable=False,
                    identity=True,
                    hidden=True,
                )
            )
            meta.primary_key = ["rowid"]
            self.catalog.create_sequence(f"{name}_rowid_seq")
        if meta.primary_key:
            meta.unique.append(list(meta.primary_key))
        for pc in partition_by:
            if not any(c.name == pc for c in meta.columns):
                raise EngineError(f"unknown partition column: {pc}")
        meta.partition_by = partition_by
        meta.path = os.path.join(self.catalog.table_path(name), "v1")
        self.catalog.add_table(meta)
        # v1 is an empty directory, not an empty parquet write: no Spark
        # job, and readers take the schema from the catalog. Files a lost
        # catalog left under the same name must not become rows.
        shutil.rmtree(meta.path, ignore_errors=True)
        os.makedirs(meta.path)
        self._register(meta)
        return self._status(f"create table {name}")

    def _drop_table(self, s: str) -> DataFrame:
        m = re.match(
            r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(.+)$", s, re.IGNORECASE
        )
        names = [n.strip().lower() for n in m.group(2).split(",")]
        for name in names:
            if name not in self.catalog.tables:
                if m.group(1):
                    continue
                raise EngineError(f"table not found: {name}")
            meta = self.catalog.drop_table(name)
            self.spark.catalog.dropTempView(name)
            base = re.sub(r"/v\d+$", "", meta.path)
            shutil.rmtree(base, ignore_errors=True)
        return self._status(f"drop table {', '.join(names)}")

    def _truncate(self, s: str) -> DataFrame:
        m = re.match(
            rf"TRUNCATE\s+(?:TABLE\s+)?({_IDENT})", s, re.IGNORECASE
        )
        meta = self._table(m.group(1).lower())
        # the next version is an empty directory, like CREATE TABLE's v1:
        # no Spark job
        path = self._next_version(meta)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self._publish(meta, path)
        return self._status(f"truncate {meta.name}")

    def _alter_table(self, s: str) -> DataFrame:
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+(.*)$", s, re.IGNORECASE | re.DOTALL
        )
        meta = self._table(m.group(1).lower())
        action = m.group(2).strip()
        au = action.upper()
        if au.startswith("RENAME TO"):
            # catalog-only flip (⬆): meta.path is authoritative, so the
            # data directory never moves — O(1) like DROP/TRUNCATE
            new = re.match(
                rf"RENAME\s+TO\s+({_IDENT})", action, re.IGNORECASE
            ).group(1).lower()
            if new in self.catalog.tables or new in self.catalog.views:
                raise EngineError(f"relation exists: {new}")
            old = meta.name
            self.catalog.tables.pop(old)
            meta.name = new
            self.catalog.tables[new] = meta
            for c in meta.columns:
                if c.identity:
                    oseq = f"{old}_{c.name}_seq"
                    if oseq in self.catalog.sequences:
                        self.catalog.sequences[f"{new}_{c.name}_seq"] = (
                            self.catalog.sequences.pop(oseq)
                        )
            for t in self.catalog.tables.values():
                for fk in t.foreign_keys:
                    if fk[1] == old:
                        fk[1] = new
            self.catalog.save()
            self.spark.catalog.dropTempView(old)
            self._register(meta)
            return self._status(f"rename {old} -> {new}")
        if au.startswith("RENAME"):
            rm_ = re.match(
                rf"RENAME\s+(?:COLUMN\s+)?({_IDENT})\s+TO\s+({_IDENT})",
                action,
                re.IGNORECASE,
            )
            if not rm_:
                raise EngineError(f"bad RENAME: {action[:60]}")
            old_c, new_c = rm_.group(1).lower(), rm_.group(2).lower()
            if any(c.name == new_c for c in meta.columns):
                raise EngineError(f"column exists: {new_c}")
            col = meta.column(old_c)
            df = self._read(meta).withColumnRenamed(old_c, new_c)
            col.name = new_c

            def _ren(expr: str | None) -> str | None:
                # word-boundary textual rename inside stored expressions
                # (checks / defaults / generated) — same identifier-level
                # rewrite pg performs on stored constraint trees
                if expr is None:
                    return None
                return re.sub(
                    rf"\b{re.escape(old_c)}\b", new_c, expr,
                    flags=re.IGNORECASE,
                )

            meta.checks = [_ren(e) for e in meta.checks]
            for c in meta.columns:
                c.generated = _ren(c.generated)
                c.default = _ren(c.default)
            meta.primary_key = [
                new_c if k == old_c else k for k in meta.primary_key
            ]
            meta.unique = [
                [new_c if k == old_c else k for k in u] for u in meta.unique
            ]
            if col.identity:
                # keep the backing sequence addressable: INSERT looks up
                # nextval(f"{table}_{col}_seq") by the NEW column name
                oseq = f"{meta.name}_{old_c}_seq"
                if oseq in self.catalog.sequences:
                    self.catalog.sequences[f"{meta.name}_{new_c}_seq"] = (
                        self.catalog.sequences.pop(oseq)
                    )
            meta.partition_by = [
                new_c if k == old_c else k for k in meta.partition_by
            ]
            for fk in meta.foreign_keys:
                fk[0] = [new_c if k == old_c else k for k in fk[0]]
            for t in self.catalog.tables.values():
                for fk in t.foreign_keys:
                    if fk[1] == meta.name:
                        fk[2] = [new_c if k == old_c else k for k in fk[2]]
            self._rewrite(meta, df)
            return self._status(f"rename column {old_c} -> {new_c}")
        if au.startswith("ADD COLUMN") or (
            au.startswith("ADD") and not au.startswith(
                ("ADD PRIMARY", "ADD CONSTRAINT", "ADD FOREIGN",
                 "ADD UNIQUE", "ADD CHECK")
            )
        ):
            cm = re.match(
                rf"ADD\s+(?:COLUMN\s+)?({_IDENT})\s+(\S+(?:\s+PRECISION)?)(.*)$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            cname, ctype = cm.group(1), cm.group(2)
            spark_type = map_pg_type(ctype)
            meta.columns.append(
                ColumnMeta(cname, ctype.upper(), spark_type, True, False, None)
            )
            df = self._read_old_schema(meta, drop=None)
            self._rewrite(
                meta, df.withColumn(cname, F.lit(None).cast(spark_type))
            )
            return self._status(f"alter add {cname}")
        if au.startswith("DROP COLUMN"):
            cname = re.match(
                rf"DROP\s+COLUMN\s+({_IDENT})", action, re.IGNORECASE
            ).group(1)
            if cname.lower() in [p.lower() for p in meta.partition_by]:
                # pg rejects dropping a partition-key column; allowing it
                # would strand partition metadata mid-DDL
                raise EngineError(
                    f"cannot drop partition column: {cname}"
                )
            df = self._read_old_schema(meta, drop=cname)
            meta.columns = [c for c in meta.columns if c.name != cname]
            self._rewrite(meta, df)
            return self._status(f"alter drop {cname}")
        if au.startswith("ADD PRIMARY KEY") or (
            au.startswith("ADD CONSTRAINT") and "PRIMARY KEY" in au
        ):
            meta.primary_key = re.findall(_IDENT, action[action.index("("):])
            meta.unique.append(list(meta.primary_key))
            self.catalog.save()
            return self._status("alter add pk")
        if "CHECK" in au and au.startswith(("ADD CONSTRAINT", "ADD CHECK", "ADD ")):
            expr = _extract_check(action)
            if not expr:
                raise EngineError(f"bad ADD CHECK: {action[:60]}")
            # pg validates existing rows when the constraint is added
            probe = TableMeta(name=meta.name, columns=meta.columns,
                              checks=[expr], path=meta.path)
            _, error = self._violations(probe, self._read(meta), None)
            if error:
                raise EngineError(error)
            meta.checks.append(expr)
            self.catalog.save()
            return self._status("alter add check")
        if "FOREIGN KEY" in au:
            fk = re.search(
                rf"FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+({_IDENT})\s*\(([^)]*)\)",
                action,
                re.IGNORECASE,
            )
            meta.foreign_keys.append(
                [
                    re.findall(_IDENT, fk.group(1)),
                    fk.group(2).lower(),
                    re.findall(_IDENT, fk.group(3)),
                ]
            )
            self.catalog.save()
            return self._status("alter add fk")
        raise EngineError(f"unsupported ALTER: {action[:60]}")

    def _read_old_schema(self, meta: TableMeta, drop: str | None) -> DataFrame:
        df = self._read(meta)
        if drop:
            df = df.drop(drop)
        return df

    # ---------------------------------------------------------------- views

    def _create_view(self, s: str) -> DataFrame:
        m = re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?(MATERIALIZED\s+)?VIEW\s+({_IDENT})"
            r"\s+AS\s+(.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad CREATE VIEW: {s[:80]}")
        replace, mat, name, body = (
            bool(m.group(1)),
            bool(m.group(2)),
            m.group(3).lower(),
            m.group(4).strip(),
        )
        if name in self.catalog.views and not replace and not mat:
            raise EngineError(f"view exists: {name}")
        view = ViewMeta(name=name, sql=body, materialized=mat)
        if mat:
            view.path = os.path.join(self.warehouse, "matviews", name)
            self.spark.sql(preprocess(body)).write.mode("overwrite").parquet(
                view.path
            )
        self.catalog.views[name] = view
        self.catalog.save()
        self._register_view(view)
        return self._status(f"create view {name}")

    def _refresh_mv(self, s: str) -> DataFrame:
        m = re.match(
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+({_IDENT})", s, re.IGNORECASE
        )
        view = self.catalog.views[m.group(1).lower()]
        self.spark.sql(preprocess(view.sql)).write.mode("overwrite").parquet(
            view.path
        )
        self._register_view(view)
        return self._status(f"refresh {view.name}")

    def _drop_view(self, s: str) -> DataFrame:
        m = re.match(
            rf"DROP\s+(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?({_IDENT})",
            s,
            re.IGNORECASE,
        )
        name = m.group(1).lower()
        view = self.catalog.views.pop(name, None)
        if view:
            self.catalog.save()
            self.spark.catalog.dropTempView(name)
            if view.materialized and view.path:
                shutil.rmtree(view.path, ignore_errors=True)
        elif "IF EXISTS" not in s.upper():
            raise EngineError(f"view not found: {name}")
        return self._status(f"drop view {name}")

    # ------------------------------------------------- SQL-body functions
    #
    # CREATE FUNCTION (pg SQL-language scalar functions; the reference
    # has no user functions at all — kv/CalciteSqlParser.java accepts
    # only built-ins). Accepted bodies: pg's `AS $$ SELECT expr $$
    # LANGUAGE SQL`, `AS 'expr' LANGUAGE SQL`, and the pg14/standard
    # `RETURN expr`. All compile to a Spark 4 SQL UDF (`CREATE OR
    # REPLACE TEMPORARY FUNCTION ... RETURN expr`) — inlined into the
    # plan at analysis time, fully JVM/codegen, no Python round-trip —
    # and persist in the catalog so a fresh Engine re-registers them.

    def _register_function(self, name: str, fmeta: dict) -> None:
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            f"({fmeta['params']}) RETURNS {fmeta['returns']}"
            f" RETURN {fmeta['body']}"
        )

    def _create_function(self, s: str) -> DataFrame:
        m = re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+({_IDENT})\s*\(",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"bad CREATE FUNCTION: {s[:80]}")
        replace, name = bool(m.group(1)), m.group(2).lower()
        if name in self.catalog.functions and not replace:
            raise EngineError(f'function "{name}" already exists')
        # balanced-paren parameter list (types may carry (p,s) suffixes)
        open_i = s.index("(", m.end(2))
        depth, i = 0, open_i
        for i in range(open_i, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise EngineError(f"bad CREATE FUNCTION params: {s[:80]}")
        raw_params = s[open_i + 1:i].strip()
        tail = s[i + 1:].strip()
        tm = re.match(
            r"RETURNS\s+([A-Za-z_][\w ]*?"
            r"(?:\(\s*\d+\s*(?:,\s*\d+)?\s*\))?)\s+(.*)$",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        if not tm:
            raise EngineError(f"CREATE FUNCTION needs RETURNS <type>: {s[:80]}")
        ret_pg, body_sql = tm.group(1).strip(), tm.group(2).strip()
        body = self._function_body(body_sql)
        params = []
        if raw_params:
            for p in self._split_defs(raw_params):
                pm = re.match(rf"({_IDENT})\s+(.+)$", p.strip(), re.DOTALL)
                if not pm:
                    raise EngineError(f"bad function parameter: {p!r}")
                params.append(
                    f"{pm.group(1)} {map_pg_type(pm.group(2))}"
                )
        fmeta = {
            "params": ", ".join(params),
            "returns": map_pg_type(ret_pg),
            "returns_pg": ret_pg.upper(),
            "body": body,
        }
        self._register_function(name, fmeta)  # Spark validates the body
        self.catalog.functions[name] = fmeta
        self.catalog.save()
        return self._status(f"create function {name}")

    @staticmethod
    def _function_body(tail: str) -> str:
        """Extract the scalar expression from the accepted body forms."""
        tail = tail.strip().rstrip(";").strip()
        m = re.match(
            r"AS\s*\$\$(.*)\$\$\s*(?:LANGUAGE\s+SQL)?\s*$",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            m = re.match(
                r"AS\s*'((?:[^']|'')*)'\s*LANGUAGE\s+SQL\s*$",
                tail,
                re.IGNORECASE | re.DOTALL,
            )
            if m:
                body = m.group(1).replace("''", "'").strip()
                return re.sub(
                    r"^SELECT\s+", "", body, flags=re.IGNORECASE
                ).rstrip(";").strip()
        if m:
            body = m.group(1).strip()
            return re.sub(
                r"^SELECT\s+", "", body, flags=re.IGNORECASE
            ).rstrip(";").strip()
        m = re.match(
            r"(?:LANGUAGE\s+SQL\s+)?RETURN\s+(.+)$",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return m.group(1).strip()
        raise EngineError(f"unsupported function body: {tail[:80]}")

    def _drop_function(self, s: str) -> DataFrame:
        m = re.match(
            rf"DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?({_IDENT})\s*(\(.*?\))?\s*;?\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad DROP FUNCTION: {s[:80]}")
        name = m.group(2).lower()
        if name in self.catalog.functions:
            del self.catalog.functions[name]
            self.catalog.save()
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        elif not m.group(1):
            raise EngineError(f"function not found: {name}")
        return self._status(f"drop function {name}")

    # ----------------------------------------------------------------- DML

    def _substitute_sequences(self, s: str) -> str:
        def next_repl(m):
            return str(self.catalog.nextval(m.group(1).lower()))

        def curr_repl(m):
            return str(self.catalog.currval(m.group(1).lower()))

        s = re.sub(
            rf"\bnextval\s*\(\s*'({_IDENT})'\s*\)", next_repl, s,
            flags=re.IGNORECASE,
        )
        return re.sub(
            rf"\bcurrval\s*\(\s*'({_IDENT})'\s*\)", curr_repl, s,
            flags=re.IGNORECASE,
        )

    def _insert(self, s: str) -> DataFrame:
        # pg upsert + RETURNING (⬆ — absent in the reference, whose INSERT
        # is plain append, kv/KvQueryExecutor.java:1563): both are suffix
        # clauses, stripped before the core parse. ON CONFLICT DO UPDATE
        # delegates to the MERGE rewrite with the batch registered as a
        # temp view aliased `excluded`, so pg's EXCLUDED.col references
        # work verbatim inside the SET expressions.
        # suffix clauses are located on a literal-MASKED copy — a VALUES
        # string like 'items returning soon' or 'on conflict policy' must
        # not truncate the statement at that point
        masked, lits = _mask_literals(s)
        returning = None
        rm = re.search(
            r"\s+RETURNING\s+(.*)$", masked, re.IGNORECASE | re.DOTALL
        )
        if rm:
            returning = _unmask(rm.group(1).strip(), lits)
            masked = masked[: rm.start()]
        conflict = None
        cm = re.search(
            rf"\s+ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+"
            rf"(NOTHING|UPDATE\s+SET\s+.*)$",
            masked,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            conflict = (cm.group(1), _unmask(cm.group(2), lits))
            masked = masked[: cm.start()]
        s = _unmask(masked, lits)
        m = re.match(
            rf"INSERT\s+INTO\s+({_IDENT})\s*(\(([^)]*)\))?\s*"
            rf"(DEFAULT\s+VALUES|VALUES\s*(.*)|SELECT\s+.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad INSERT: {s[:80]}")
        meta = self._table(m.group(1).lower())
        tail = m.group(4)
        if re.match(r"DEFAULT\s+VALUES\s*$", tail, re.IGNORECASE):
            # pg `INSERT INTO t DEFAULT VALUES`: one row, every column
            # from its DEFAULT / identity sequence / NULL — a 1-row
            # 0-column frame drops into the existing fill loop below
            src = self.spark.range(1).select()
            default_values = True
        elif tail.upper().startswith("VALUES"):
            body = self._substitute_sequences(m.group(5))
            src = self.spark.sql(
                f"SELECT * FROM (VALUES {preprocess(body)}) AS _v"
            )
            default_values = False
        else:
            src = self.spark.sql(preprocess(self._substitute_sequences(tail)))
            default_values = False
        gen_cols = {c.name for c in meta.columns if c.generated}
        if default_values:
            cols = []
        elif m.group(3):
            cols = [c.strip() for c in m.group(3).split(",")]
            bad = gen_cols & {c.lower() for c in cols}
            if bad:
                raise EngineError(
                    f"cannot insert into generated column: {sorted(bad)[0]}"
                )
        else:
            cols = [
                c.name for c in meta.columns
                if not c.hidden and not c.generated
            ]
            if len(src.columns) == len(
                [
                    c for c in meta.columns
                    if not c.identity and not c.hidden and not c.generated
                ]
            ):
                # bare INSERT omitting identity columns (SERIAL usage)
                cols = [
                    c.name
                    for c in meta.columns
                    if not c.identity and not c.hidden and not c.generated
                ]
        if len(src.columns) != len(cols):
            raise EngineError(
                f"INSERT column count mismatch: {len(src.columns)} values "
                f"for {len(cols)} columns"
            )
        src = src.toDF(*cols)
        # fill identity columns not provided (reference SERIAL semantics,
        # kv/KvQueryExecutor.java:1563-1813 auto-increment): the batch's
        # values are reserved with one sequence save
        n_src = None
        for c in meta.columns:
            if c.name not in cols:
                if c.identity:
                    if n_src is None:
                        n_src = src.count()
                    base = self.catalog.nextval(
                        f"{meta.name}_{c.name}_seq", n_src
                    ) if n_src else 1
                    w = F.row_number().over(
                        Window.orderBy(F.monotonically_increasing_id())
                    )
                    src = src.withColumn(
                        c.name, (w + base - 1).cast(c.spark_type)
                    )
                elif c.default is not None:
                    # pg DEFAULT: the expression fills omitted columns
                    src = src.withColumn(
                        c.name,
                        F.expr(preprocess(
                            self._substitute_sequences(c.default)
                        )).cast(c.spark_type),
                    )
                elif not c.generated:
                    src = src.withColumn(
                        c.name, F.lit(None).cast(c.spark_type)
                    )
        # generated columns: computed from the row AFTER every provided/
        # defaulted column exists (pg GENERATED ALWAYS AS ... STORED)
        for c in meta.columns:
            if c.generated:
                src = src.withColumn(
                    c.name,
                    F.expr(preprocess(c.generated)).cast(c.spark_type),
                )
        src = src.select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in meta.columns]
        )
        if conflict is not None:
            return self._insert_on_conflict(meta, src, conflict, returning)
        n, written = self._commit(meta, src, append=True)
        if returning is not None:
            return self._returning(written, meta, returning)
        return self._status(f"insert {meta.name}", n)

    def _returning(self, df, meta: TableMeta, returning: str):
        """Project a DML RETURNING clause; bare * excludes the hidden
        rowid, matching pg's visible-column semantics."""
        if returning.strip() == "*":
            return df.select(
                *[c.name for c in meta.columns if not c.hidden]
            )
        return df.selectExpr(*self._split_defs(preprocess(returning)))

    def _insert_on_conflict(
        self,
        meta: TableMeta,
        src: DataFrame,
        conflict: tuple[str | None, str],
        returning: str | None,
    ) -> DataFrame:
        """pg `INSERT ... ON CONFLICT (key) DO NOTHING | DO UPDATE SET ...`.

        DO NOTHING: set-based — dedupe the batch on the conflict key, drop
        rows colliding with existing keys (one left-anti join), append the
        remainder. DO UPDATE: rewritten to the engine's MERGE (full-outer-
        join copy-on-write upsert) with the batch as `excluded`, matching
        pg's EXCLUDED pseudo-relation. The conflict target defaults to the
        table's PRIMARY KEY; sequence values consumed by conflicting rows
        stay consumed, exactly pg's SERIAL behavior."""
        key = (
            [c.strip().lower() for c in conflict[0].split(",")]
            if conflict[0]
            else list(meta.primary_key)
        )
        if not key:
            raise EngineError(
                "ON CONFLICT requires a conflict target or a PRIMARY KEY"
            )
        action = conflict[1].strip()
        if action.upper() == "NOTHING":
            existing = self._read(meta)
            # within-batch duplicate keys: pg inserts the FIRST row and
            # skips later conflicts — keep first-in-batch-order, not an
            # arbitrary dropDuplicates survivor (window over the batch
            # only, never the table)
            first = F.row_number().over(
                Window.partitionBy(*key).orderBy(
                    F.monotonically_increasing_id()
                )
            )
            fresh = (
                src.withColumn("__rn", first)
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .join(existing.select(*key), key, "left_anti")
            )
            n, written = self._commit(meta, fresh, append=True)
            if returning is not None:
                return self._returning(written, meta, returning)
            return self._status(f"insert {meta.name} (conflicts skipped)", n)
        if returning is not None:
            raise EngineError(
                "RETURNING with ON CONFLICT DO UPDATE is not supported"
            )
        if any(c.generated for c in meta.columns):
            raise EngineError(
                "ON CONFLICT DO UPDATE on a table with generated columns "
                "is not supported (the MERGE rewrite cannot recompute them "
                "unambiguously); use DO NOTHING + UPDATE"
            )
        # pg: "ON CONFLICT DO UPDATE command cannot affect row a second
        # time" — two batch rows sharing a conflict key would BOTH take
        # MERGE's NOT MATCHED branch when the key is absent from the
        # target, silently inserting duplicate PK rows. Raise, like pg.
        dup = (
            src.groupBy(*key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise EngineError(
                "ON CONFLICT DO UPDATE cannot affect row a second time: "
                f"duplicate conflict key within the insert batch on ({', '.join(key)})"
            )
        sets = re.match(r"UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
        view = "__upsert_excluded"
        src.createOrReplaceTempView(view)
        on = " AND ".join(
            f"{meta.name}.{k} = excluded.{k}" for k in key
        )
        cols = ", ".join(c.name for c in meta.columns)
        vals = ", ".join(f"excluded.{c.name}" for c in meta.columns)
        return self._merge(
            f"MERGE INTO {meta.name} USING {view} AS excluded ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets.group(1)} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    @staticmethod
    def _all_set(cols: list[str]) -> str:
        """SQL: true when every column is non-null. NULL keys are
        distinct under UNIQUE and satisfy an FK (pg MATCH SIMPLE)."""
        return " AND ".join(f"{sql_ident(c)} IS NOT NULL" for c in cols)

    def _row_checks(self, meta: TableMeta) -> list[tuple]:
        """``(kind, label, error, bad-row SQL predicate)`` for every
        CHECK, then every NOT NULL and enum column in column order — the
        order DML raises them in. Shared by the DML commit and VERIFY
        CONSTRAINTS."""
        out = [
            # pg semantics: CHECK passes on TRUE or NULL, fails on FALSE
            ("check", e, f"CHECK violated: {meta.name}: {e}",
             f"NOT coalesce(({preprocess(e)}), TRUE)")
            for e in meta.checks
        ]
        for c in meta.columns:
            col = sql_ident(c.name)
            if not c.nullable or c.name in meta.primary_key:
                out.append(("not_null", c.name,
                            f"NOT NULL violated: {meta.name}.{c.name}",
                            f"{col} IS NULL"))
            if c.enum_type:
                domain = ", ".join(
                    sql_literal(v) for v in self.catalog.enums[c.enum_type]
                )
                out.append(("enum", c.name,
                            f"invalid {c.enum_type} value for {c.name}",
                            f"{col} IS NOT NULL AND {col} NOT IN ({domain})"))
        return out

    def _violations(
        self, meta: TableMeta, rows: DataFrame, existing: DataFrame | None
    ) -> tuple[int, str | None]:
        """Row count of ``rows`` and its first violated constraint, from
        one query built as SQL text (one parse, not a py4j call per
        column expression). With ``existing``, its key columns join
        ``rows`` in a union tagged ``__new``.

        Without UNIQUE sets it is one aggregate: the rows and a count per
        row check. Otherwise the first aggregate groups by GROUPING SETS:
        the empty set gives those totals, and one set per distinct UNIQUE
        column set counts each key's new and existing rows. A second
        aggregate folds each set's keys that have no NULL column (NULL
        keys are distinct, as in pg): a key with two new rows is a
        duplicate within the batch, a key with new and existing rows a
        clash. The sets expand in the order they are listed, so the
        generated code is the same from statement to statement;
        ``count_distinct`` aggregates would expand in an order taken from
        expression-id hashes, and each statement compiled new classes."""
        checks = self._row_checks(meta)
        keys = {k.lower(): k for u in meta.unique for k in u}
        cols = list(keys.values())
        # both sides list the columns by name: a partitioned read puts its
        # partition columns last
        rows.createOrReplaceTempView("__commit_new")
        names = ", ".join(sql_ident(c.name) for c in meta.columns)
        src = f"SELECT {names}, TRUE AS __new FROM __commit_new"
        if existing is not None:
            existing.createOrReplaceTempView("__commit_old")
            kept = [
                sql_ident(c.name) if c.name.lower() in keys
                else f"CAST(NULL AS {c.spark_type}) AS {sql_ident(c.name)}"
                for c in meta.columns
            ]
            src += (
                f" UNION ALL SELECT {', '.join(kept)}, FALSE "
                "FROM __commit_old"
            )
        # every check is evaluated once per row, before the expansion
        flags = {}
        for i, (kind, label, _, bad) in enumerate(checks):
            flags[f"__c{i}"] = f"__new AND {bad}"
            if kind == "enum":  # the first bad value goes in the message
                flags[f"__v{i}"] = (
                    f"CASE WHEN __new AND {bad} THEN {sql_ident(label)} END"
                )
        flagged = ", ".join(["*"] + [f"{e} AS {n}" for n, e in flags.items()])
        aggs = ["count_if(__new) AS __n", "count_if(NOT __new) AS __o"] + [
            f"{'count_if' if n.startswith('__c') else 'min'}({n}) AS {n}"
            for n in flags
        ]
        body = f"FROM (SELECT {flagged} FROM ({src}))"
        # a set's grouping id has a bit set per key column it leaves out
        gids = [
            sum(
                1 << (len(cols) - 1 - j)
                for j, c in enumerate(cols)
                if c.lower() not in {u.lower() for u in ucols}
            )
            for ucols in meta.unique
        ]
        sets: dict[int, list[str]] = {}
        for gid, ucols in zip(gids, meta.unique):
            sets.setdefault(gid, [keys[c.lower()] for c in ucols])
        total = (1 << len(cols)) - 1
        if not sets:
            by_gid = {
                total: self.spark.sql(f"SELECT {', '.join(aggs)} {body}")
                .first()
            }
        else:
            grouping = ", ".join(
                "(" + ", ".join(sql_ident(c) for c in u) + ")"
                for u in sets.values()
            )
            keyed = " AND ".join(
                f"(__g != {gid} OR {self._all_set(u)})"
                for gid, u in sets.items()
            )
            folded = ", ".join(f"max({n}) AS {n}" for n in ("__n", *flags))
            key_list = ", ".join(map(sql_ident, cols))
            by_gid = {
                r["__g"]: r
                for r in self.spark.sql(
                    f"SELECT __g, {folded}, "
                    "count_if(__n > 0 AND __o > 0) AS __clash "
                    f"FROM (SELECT grouping_id() AS __g, {key_list}, "
                    f"{', '.join(aggs)} {body} GROUP BY {key_list} "
                    f"GROUPING SETS ((), {grouping})) "
                    f"WHERE {keyed} GROUP BY __g"
                ).collect()
            }
        r = by_gid.get(total)
        if r is None:  # an empty batch has no grand-total group
            return 0, None
        for i, (kind, _, error, _) in enumerate(checks):
            if r[f"__c{i}"]:
                return r["__n"], (
                    f"{error}: {r[f'__v{i}']!r}" if kind == "enum" else error
                )
        for gid, ucols in zip(gids, meta.unique):
            key = by_gid.get(gid)
            target = f"{meta.name}({','.join(ucols)})"
            if key is not None and key["__n"] > 1:
                return r["__n"], f"UNIQUE violated within batch: {target}"
            if key is not None and key["__clash"]:
                return r["__n"], f"UNIQUE violated: {target}"
        return r["__n"], None

    def _fk_violation(self, meta: TableMeta, rows: DataFrame) -> str | None:
        """The first FK of ``rows`` with an orphan, one anti-join each."""
        for fcols, ref, rcols in meta.foreign_keys:
            if ref not in self.catalog.tables:
                continue
            if self._orphans(rows, fcols, ref, rcols).limit(1).count():
                return (
                    f"FK violated: {meta.name}({','.join(fcols)}) -> "
                    f"{ref}({','.join(rcols)})"
                )
        return None

    def _orphans(
        self, rows: DataFrame, fcols: list[str], ref: str, rcols: list[str]
    ) -> DataFrame:
        """The FK columns of ``rows`` that match no row of ``ref``. MATCH
        SIMPLE (pg default): a row with ANY null FK column satisfies the
        constraint. Shared by the DML commit and VERIFY CONSTRAINTS."""
        refdf = self._read(self.catalog.tables[ref]).select(
            *[F.col(rc).alias(fc) for fc, rc in zip(fcols, rcols)]
        )
        return rows.filter(self._all_set(fcols)).select(*fcols).join(
            refdf, fcols, "left_anti"
        )

    @staticmethod
    def _toplevel_keyword(s: str, word: str) -> int:
        """Index of the first word-bounded, paren-depth-0 occurrence of
        ``word`` (case-insensitive) in ``s``, or -1. Run on a
        literal-masked string: 'FROM' inside `substring(x from 2)` sits
        at depth > 0 and inside a string it is masked away entirely."""
        upper, w = s.upper(), word.upper()
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and upper.startswith(w, i)
                and (i == 0 or not (upper[i - 1].isalnum() or s[i - 1] == "_"))
                and (
                    i + len(w) >= len(s)
                    or not (upper[i + len(w)].isalnum() or s[i + len(w)] == "_")
                )
            ):
                return i
        return -1

    def _update(self, s: str) -> DataFrame:
        # suffix/clause split on a literal-MASKED copy (same hazard as
        # _insert: a SET string containing ' returning ' or ' from '
        # must not truncate the statement); FROM/WHERE located at paren
        # depth 0 so `substring(x from 2)` can't fake an UPDATE FROM
        masked, lits = _mask_literals(s)
        returning = None
        rm = re.search(
            r"\s+RETURNING\s+(.*)$", masked, re.IGNORECASE | re.DOTALL
        )
        if rm:
            returning = _unmask(rm.group(1).strip(), lits)
            masked = masked[: rm.start()]
        hm = re.match(
            rf"UPDATE\s+({_IDENT})\s+SET\s+", masked, re.IGNORECASE
        )
        if not hm:
            raise EngineError(f"bad UPDATE: {s[:80]}")
        tname, body = hm.group(1).lower(), masked[hm.end():]
        cond_sql = None
        wi = self._toplevel_keyword(body, "WHERE")
        if wi >= 0:
            cond_sql = _unmask(body[wi + len("WHERE"):].strip(), lits)
            body = body[:wi]
        fi = self._toplevel_keyword(body, "FROM")
        if fi >= 0:
            # pg `UPDATE t SET ... FROM other WHERE join_cond`
            return self._update_from(
                tname,
                _unmask(body[:fi].strip(), lits),
                _unmask(body[fi + len("FROM"):].strip(), lits),
                cond_sql,
                returning,
            )
        # plain single-table path: parse from the MASKED split above —
        # `body` is the SET list (WHERE/FROM already peeled off at
        # paren depth 0), so a SET literal containing ' where ' cannot
        # corrupt the predicate
        sets_sql = _unmask(body.strip(), lits)
        if not sets_sql:
            raise EngineError(f"bad UPDATE: {s[:80]}")
        meta = self._table(tname)
        sets = {}
        for part in self._split_defs(sets_sql):
            sm = re.match(rf"({_IDENT})\s*=\s*(.*)$", part, re.DOTALL)
            if not sm:
                raise EngineError(f"bad SET clause: {part[:60]}")
            sets[sm.group(1)] = preprocess(
                self._substitute_sequences(sm.group(2).strip())
            )
        cond = (
            F.expr(preprocess(cond_sql)) if cond_sql else F.lit(True)
        )
        for c in sets:
            if meta.column(c).generated:
                raise EngineError(f"cannot update generated column: {c}")
        # alias the target to its table name so correlated subqueries in
        # the predicate (pg `WHERE EXISTS (SELECT 1 FROM o WHERE o.id =
        # t.id)`) resolve the outer reference
        df = self._read(meta).alias(meta.name)
        # the matched rows are counted on the write itself
        hits = Observation()
        out = (
            df.withColumn("__hit", F.coalesce(cond, F.lit(False)))
            .observe(hits, F.count_if("__hit").alias("n"))
            .withColumns(
                {
                    c: F.when(F.col("__hit"), F.expr(e))
                    .otherwise(F.col(c))
                    .cast(meta.column(c).spark_type)
                    for c, e in sets.items()
                }
            )
            .drop("__hit")
        )
        gen = {
            c.name: F.expr(preprocess(c.generated)).cast(c.spark_type)
            for c in meta.columns
            if c.generated
        }
        if gen:
            out = out.withColumns(gen)
        self._commit(meta, out, append=False)
        if returning is not None:
            # the updated rows with their NEW values (pg RETURNING reads
            # the post-update tuple): apply the SETs unconditionally to
            # the old rows that satisfied the predicate
            ret = df.filter(cond).withColumns(
                {
                    c: F.expr(e).cast(meta.column(c).spark_type)
                    for c, e in sets.items()
                }
            )
            if gen:
                ret = ret.withColumns(gen)
            return self._returning(ret, meta, returning)
        return self._status(f"update {meta.name}", hits.get["n"])

    def _update_from(
        self,
        tname: str,
        sets_sql: str,
        from_sql: str,
        cond_sql: str | None,
        returning: str | None,
    ) -> DataFrame:
        """pg ``UPDATE t SET ... FROM from_list WHERE cond`` (⬆ — the
        reference's UPDATE is single-table, kv/KvQueryExecutor.java:1814).

        One join pipeline: target (tagged with a materialized row id) x
        from_list under cond computes the new values; a left join back
        applies them. pg leaves multi-match behavior unspecified — we
        raise instead (Delta MERGE's ambiguity rule): silent arbitrary
        row picks are exactly the nondeterminism this engine bans."""
        meta = self._table(tname)
        sets: dict[str, str] = {}
        for part in self._split_defs(sets_sql):
            sm = re.match(rf"({_IDENT})\s*=\s*(.*)$", part, re.DOTALL)
            if not sm:
                raise EngineError(f"bad SET clause: {part[:60]}")
            sets[sm.group(1).lower()] = preprocess(
                self._substitute_sequences(sm.group(2).strip())
            )
        for c in sets:
            if meta.column(c).generated:
                raise EngineError(f"cannot update generated column: {c}")
        # __tid must be STABLE across the two uses below —
        # monotonically_increasing_id is partition-dependent, so pin it
        # with a localCheckpoint (one materialization, same order as the
        # copy-on-write rewrite this statement performs anyway)
        t = (
            self._read(meta)
            .withColumn("__tid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        t.createOrReplaceTempView("__upd_target")
        new_cols = ", ".join(
            f"({e}) AS __new_{c}" for c, e in sets.items()
        )
        cond = preprocess(cond_sql) if cond_sql else "TRUE"
        matched = self.spark.sql(
            f"SELECT {tname}.__tid AS __tid, {new_cols} "
            f"FROM __upd_target AS {tname}, {preprocess(from_sql)} "
            f"WHERE {cond}"
        )
        # one aggregate: the matches, and whether any target row has two
        stats = matched.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__tid").alias("t")
        ).first()
        if stats["n"] != stats["t"]:
            raise EngineError(
                "UPDATE ... FROM matches a target row more than once; "
                "make the join condition unique (pg leaves this "
                "unspecified — this engine refuses the nondeterminism)"
            )
        hit = matched.withColumn("__hit", F.lit(True))
        joined = t.join(hit, "__tid", "left")
        out = joined.withColumns(
            {
                c: F.when(
                    F.coalesce(F.col("__hit"), F.lit(False)),
                    F.col(f"__new_{c}"),
                )
                .otherwise(F.col(c))
                .cast(meta.column(c).spark_type)
                for c in sets
            }
        )
        gen = {
            c.name: F.expr(preprocess(c.generated)).cast(c.spark_type)
            for c in meta.columns
            if c.generated
        }
        if gen:
            out = out.withColumns(gen)
        out = out.drop(
            "__tid", "__hit", *[f"__new_{c}" for c in sets]
        )
        self._commit(meta, out, append=False)
        if returning is not None:
            updated = joined.filter(
                F.coalesce(F.col("__hit"), F.lit(False))
            )
            updated = updated.withColumns(
                {
                    c: F.col(f"__new_{c}").cast(meta.column(c).spark_type)
                    for c in sets
                }
            )
            if gen:
                updated = updated.withColumns(gen)
            # lazy over the pinned target and the old version's files
            return self._returning(
                updated.drop("__tid", "__hit", *[f"__new_{c}" for c in sets]),
                meta,
                returning,
            )
        return self._status(f"update {meta.name}", stats["n"])

    def _delete(self, s: str) -> DataFrame:
        masked, lits = _mask_literals(s)
        returning = None
        rm = re.search(
            r"\s+RETURNING\s+(.*)$", masked, re.IGNORECASE | re.DOTALL
        )
        if rm:
            returning = _unmask(rm.group(1).strip(), lits)
            masked = masked[: rm.start()]
        hm = re.match(
            rf"DELETE\s+FROM\s+({_IDENT})\s+USING\s+", masked, re.IGNORECASE
        )
        if hm:
            body = masked[hm.end():]
            wi = self._toplevel_keyword(body, "WHERE")
            cond_sql = (
                _unmask(body[wi + len("WHERE"):].strip(), lits)
                if wi >= 0
                else None
            )
            from_sql = _unmask(
                (body[:wi] if wi >= 0 else body).strip(), lits
            )
            return self._delete_using(
                hm.group(1).lower(), from_sql, cond_sql, returning
            )
        s = _unmask(masked, lits)
        m = re.match(
            rf"DELETE\s+FROM\s+({_IDENT})(?:\s+WHERE\s+(.*))?$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        meta = self._table(m.group(1).lower())
        # aliased so correlated subqueries can reference the target table
        df = self._read(meta).alias(meta.name)
        hit = F.lit(True)
        if m.group(2):
            cond = F.expr(preprocess(m.group(2).strip()))
            hit = F.coalesce(cond, F.lit(False))
        # the deleted rows are counted on the write of the kept ones; the
        # filter tests a column, so it stays above the observer even when
        # the predicate folds to a constant (a constant FALSE filter
        # would prune the observer and the count would never arrive)
        hits = Observation()
        kept = (
            df.withColumn("__hit", hit)
            .observe(hits, F.count_if("__hit").alias("n"))
            .filter(~F.col("__hit"))
            .drop("__hit")
        )
        self._rewrite(meta, kept)
        if returning is not None:
            return self._returning(df.filter(hit), meta, returning)
        return self._status(f"delete {meta.name}", hits.get["n"])

    def _delete_using(
        self,
        tname: str,
        from_sql: str,
        cond_sql: str | None,
        returning: str | None,
    ) -> DataFrame:
        """pg ``DELETE FROM t USING from_list WHERE cond`` (⬆): one
        semi/anti join pair against the joined match set — the set-based
        form of the reference's row-at-a-time tombstone loop
        (kv/KvQueryExecutor.java:2013)."""
        meta = self._table(tname)
        t = (
            self._read(meta)
            .withColumn("__tid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        t.createOrReplaceTempView("__del_target")
        cond = preprocess(cond_sql) if cond_sql else "TRUE"
        matched = self.spark.sql(
            f"SELECT DISTINCT {tname}.__tid AS __tid "
            f"FROM __del_target AS {tname}, {preprocess(from_sql)} "
            f"WHERE {cond}"
        )
        n = matched.count()
        self._rewrite(meta, t.join(matched, "__tid", "anti").drop("__tid"))
        if returning is not None:
            return self._returning(
                t.join(matched, "__tid", "semi").drop("__tid"),
                meta,
                returning,
            )
        return self._status(f"delete {meta.name}", n)

    _WHEN_RE = re.compile(
        r"WHEN\s+(MATCHED|NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED"
        r"(?:\s+BY\s+TARGET)?)(?:\s+AND\s+(.*?))?\s+THEN\s+(.*?)"
        r"(?=\s+WHEN\s+(?:MATCHED|NOT\s+MATCHED)|\s*$)",
        re.IGNORECASE | re.DOTALL,
    )

    def _merge(self, s: str) -> DataFrame:
        """MERGE INTO — ANSI/Delta-style upsert (absent in the reference;
        its closest analog is the INSERT + UPDATE pair,
        kv/KvQueryExecutor.java:1563,:1814).

        Single full-outer-join rewrite: target FULL OUTER source ON cond,
        then every WHEN clause becomes a guarded CASE over the joined row
        (first applicable clause wins, per the standard). Supports
        WHEN MATCHED [AND] THEN UPDATE SET .../DELETE, WHEN NOT MATCHED
        [AND] THEN INSERT (...) VALUES (...) / INSERT *, UPDATE SET *,
        and WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE. A source row
        matching >1 target rows raises (Delta's ambiguity rule). One scan
        of each side, one join shuffle — no per-row driver logic; at
        100 TB the join is the same shuffle any equi-join costs, and the
        rewrite materializes one new table version (lakehouse
        copy-on-write semantics), committed through ``_commit`` like an
        UPDATE: every constraint, UNIQUE and FK included, is checked on
        the merged table before the pointer flips.
        """
        # All clause splitting runs on a literal-MASKED copy: a string
        # literal containing '(' / ')' would corrupt the USING-subquery
        # paren scan, and one containing ' when matched ' would corrupt
        # the ON/WHEN split (round-6 fuzz finding). Extracted SQL pieces
        # are unmasked at their point of use.
        masked, lits = _mask_literals(s)
        m = re.match(
            rf"MERGE\s+INTO\s+({_IDENT})(?:\s+(?:AS\s+)?(?!USING\b)({_IDENT}))?"
            rf"\s+USING\s+(.*)$",
            masked,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad MERGE: {s[:80]}")
        meta = self._table(m.group(1).lower())
        t_alias = (m.group(2) or meta.name).lower()
        rest = m.group(3).strip()
        src_name = None
        if rest.startswith("("):
            depth, idx = 0, 0
            for i, ch in enumerate(rest):
                depth += 1 if ch == "(" else (-1 if ch == ")" else 0)
                if depth == 0:
                    idx = i
                    break
            src_df = self.spark.sql(preprocess(_unmask(rest[1:idx], lits)))
            rest = rest[idx + 1:].strip()
        else:
            mm = re.match(rf"({_IDENT})\s*(.*)$", rest, re.DOTALL)
            src_name = mm.group(1).lower()
            src_df = self.spark.table(src_name)
            rest = mm.group(2).strip()
        mm = re.match(
            rf"(?:(?:AS\s+)?(?!ON\b)({_IDENT})\s+)?ON\s+(.*?)\s+(WHEN\s+.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not mm:
            raise EngineError(f"bad MERGE tail: {_unmask(rest, lits)[:80]}")
        s_alias = (mm.group(1) or src_name or "_src").lower()
        on_cond = preprocess(_unmask(mm.group(2).strip(), lits))
        clauses = self._WHEN_RE.findall(mm.group(3))
        if not clauses:
            raise EngineError("MERGE without WHEN clauses")

        tcols = [c.name for c in meta.columns]
        t = (
            self._read(meta)
            .withColumn("__tid", F.monotonically_increasing_id())
            .alias(t_alias)
        )
        src = src_df.withColumn("__sid", F.lit(1)).alias(s_alias)
        j = t.join(src, F.expr(on_cond), "full_outer")
        tid = F.col(f"{t_alias}.__tid")
        sid = F.col(f"{s_alias}.__sid")
        matched = tid.isNotNull() & sid.isNotNull()

        def _guard(cond_sql: str) -> F.Column:
            # cond_sql arrives MASKED (from the WHEN split)
            if not cond_sql or not cond_sql.strip():
                return F.lit(True)
            return F.coalesce(
                F.expr(preprocess(_unmask(cond_sql, lits))), F.lit(False)
            )

        def _sets(body: str) -> dict[str, str]:
            # body arrives MASKED; split on the masked text (placeholders
            # carry no commas/quotes), unmask each piece
            if body.strip() == "*":
                return {
                    c: f"{s_alias}.{c}" for c in tcols if c in src_df.columns
                }
            out = {}
            for part in self._split_defs(body):
                part = _unmask(part, lits)
                sm = re.match(rf"({_IDENT})\s*=\s*(.*)$", part, re.DOTALL)
                if not sm:
                    raise EngineError(f"bad MERGE SET: {part[:60]}")
                out[sm.group(1).lower()] = preprocess(sm.group(2).strip())
            return out

        # target-side rows: apply MATCHED / NOT MATCHED BY SOURCE clauses
        keep = F.lit(True)
        vals = {c: F.col(f"{t_alias}.{c}") for c in tcols}
        applied = F.lit(False)
        # source-side rows: NOT MATCHED [BY TARGET] -> INSERT
        ins_vals = {
            c: F.lit(None).cast(col.spark_type)
            for c, col in zip(tcols, meta.columns)
        }
        ins_cols: set[str] = set()
        ins_applied = F.lit(False)

        for kind_raw, cond_sql, action in clauses:
            kind = re.sub(r"\s+", " ", kind_raw.upper())
            act = action.strip().rstrip(";").strip()
            if kind in ("MATCHED", "NOT MATCHED BY SOURCE"):
                base = (
                    matched
                    if kind == "MATCHED"
                    else tid.isNotNull() & sid.isNull()
                )
                cnd = base & ~applied & _guard(cond_sql)
                if re.match(r"DELETE\s*$", act, re.IGNORECASE):
                    keep = F.when(cnd, F.lit(False)).otherwise(keep)
                else:
                    um = re.match(
                        r"UPDATE\s+SET\s+(.*)$", act, re.IGNORECASE | re.DOTALL
                    )
                    if not um:
                        raise EngineError(f"bad MERGE action: {act[:60]}")
                    for c, e in _sets(um.group(1)).items():
                        if c not in vals:
                            raise EngineError(f"unknown column in SET: {c}")
                        vals[c] = F.when(cnd, F.expr(e)).otherwise(vals[c])
                applied = applied | cnd
            else:  # NOT MATCHED [BY TARGET] -> INSERT
                cnd = tid.isNull() & sid.isNotNull() & ~ins_applied & _guard(
                    cond_sql
                )
                im = re.match(
                    r"INSERT\s*(?:\*|(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\))\s*$",
                    act,
                    re.IGNORECASE | re.DOTALL,
                )
                if not im:
                    raise EngineError(f"bad MERGE INSERT: {act[:60]}")
                if im.group(2) is None:  # INSERT *
                    pairs = {
                        c: f"{s_alias}.{c}"
                        for c in tcols
                        if c in src_df.columns
                    }
                else:
                    names = (
                        [c.strip().lower() for c in im.group(1).split(",")]
                        if im.group(1)
                        else [c.name for c in meta.columns if not c.hidden]
                    )
                    exprs = [
                        preprocess(_unmask(e, lits))
                        for e in self._split_defs(im.group(2))
                    ]
                    if len(names) != len(exprs):
                        raise EngineError("MERGE INSERT arity mismatch")
                    pairs = dict(zip(names, exprs))
                for c, e in pairs.items():
                    if c not in ins_vals:
                        raise EngineError(f"unknown column in INSERT: {c}")
                    ins_vals[c] = F.when(cnd, F.expr(e)).otherwise(ins_vals[c])
                    ins_cols.add(c)
                ins_applied = ins_applied | cnd

        # one pass over the join: Delta's ambiguity rule (a target row
        # matched twice) and both halves of the affected-row count
        stats = j.agg(
            F.count_if(matched).alias("pairs"),
            F.count_distinct(F.when(matched, tid)).alias("targets"),
            F.count_if(tid.isNotNull() & applied).alias("hit"),
            F.count_if(tid.isNull() & ins_applied).alias("ins"),
        ).first()
        if stats["pairs"] != stats["targets"]:
            raise EngineError(
                "MERGE: a target row matches multiple source rows"
            )
        target_rows = (
            j.filter(tid.isNotNull() & keep)
            .select(*[
                vals[c].cast(meta.column(c).spark_type).alias(c)
                for c in tcols
            ])
        )
        inserts = j.filter(tid.isNull() & ins_applied).select(*[
            ins_vals[c].cast(meta.column(c).spark_type).alias(c)
            for c in tcols
        ])
        # identity columns omitted from every INSERT list draw from their
        # sequence (same SERIAL semantics as _insert, one save)
        for c in meta.columns:
            if c.identity and c.name not in ins_cols and stats["ins"]:
                base_v = self.catalog.nextval(
                    f"{meta.name}_{c.name}_seq", stats["ins"]
                )
                w = F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id())
                )
                inserts = inserts.withColumn(
                    c.name, (w + base_v - 1).cast(c.spark_type)
                )
        # the merged result is the new table: every constraint is checked
        # on it, UNIQUE within the table, as for UPDATE
        self._commit(meta, target_rows.unionByName(inserts), append=False)
        return self._status(f"merge {meta.name}", stats["hit"] + stats["ins"])

    def _optimize(self, s: str) -> DataFrame:
        """``OPTIMIZE <table> [ZORDER BY (c1, c2, ...)]`` — lakehouse
        layout maintenance as a new table version (time travel keeps the
        old layout until VACUUM). Bare OPTIMIZE compacts to
        row-count-proportional file counts (the small-files problem);
        ZORDER BY rewrites on the Morton curve of the named columns so
        min/max stats prune on EVERY named dimension
        (sources.write_zordered_table's layout, inside the engine's
        versioned tables). The reference maintains b-tree indexes its
        executor never reads (optimizer/QueryOptimizer.java:231-235);
        this is the layout-based replacement that every reader consults.
        """
        m = re.match(
            rf"OPTIMIZE\s+({_IDENT})"
            r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"bad OPTIMIZE: {s[:60]}")
        meta = self._table(m.group(1).lower())
        df = self._read(meta)
        n = df.count()
        files = max(1, min(64, (n + 24_999) // 25_000))
        if m.group(2):
            from cassandra_sql_spark import sources

            cols = [c.strip().lower() for c in m.group(2).split(",")]
            for pc in cols:
                meta.column(pc)  # raises on unknown column
            _, z = sources.zorder_column(df, cols)
            out = (
                df.withColumn("__z", z)
                .repartitionByRange(files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            self._rewrite(meta, out)
            return self._status(
                f"optimize {meta.name} zorder ({', '.join(cols)})", n
            )
        self._rewrite(meta, df.coalesce(files))
        return self._status(f"optimize {meta.name}", n)

    def _verify_constraints(self, s: str) -> DataFrame:
        """``VERIFY CONSTRAINTS [table]`` — set-based audit of every
        declared constraint over the CURRENT table contents, reported (not
        raised): one row per constraint with its violation count. The
        reference runs this asynchronously
        (kv/jobs/ConstraintViolationCheckerJob.java, 431 LoC of
        row-at-a-time probing); here the NOT NULL, enum and CHECK counts
        share one aggregate (the DML commit's row checks) and each key
        set and FK is one aggregate or anti-join over the table — at
        100 TB, a handful of scans with partial aggregation, no per-row
        driver logic.

        Violations can exist despite write-time validation after e.g. an
        ALTER ADD FK on legacy data, a COPY FROM of unvalidated files, or
        a parent-side DELETE (FKs are checked on child writes only) —
        exactly the drift the reference's job exists to catch."""
        m = re.match(
            rf"VERIFY\s+CONSTRAINTS(?:\s+({_IDENT}))?\s*$", s, re.IGNORECASE
        )
        if not m:
            raise EngineError(f"bad VERIFY CONSTRAINTS: {s[:60]}")
        names = (
            [m.group(1).lower()] if m.group(1) else sorted(self.catalog.tables)
        )
        report: list[tuple[str, str, str, int]] = []
        for name in names:
            meta = self._table(name)
            df = self._read(meta)
            # NOT NULL, enum and CHECK counts: the DML row checks, one agg
            checks = self._row_checks(meta)
            counts = df.agg(
                *[F.expr(f"count_if({bad})") for *_, bad in checks]
            ).first() if checks else []
            found = [
                (name, kind, label, n)
                for (kind, label, _, _), n in zip(checks, counts)
                if n
            ]
            report += [r for r in found if r[1] != "check"]
            keysets = [list(meta.primary_key)] if meta.primary_key else []
            keysets += [u for u in meta.unique if u != list(meta.primary_key)]
            for keys in keysets:
                # rows in duplicate groups; NULL keys are distinct
                dup = (
                    df.filter(self._all_set(keys))
                    .groupBy(*keys)
                    .count()
                    .filter(F.col("count") > 1)
                    .agg(F.coalesce(F.sum("count"), F.lit(0)))
                    .collect()[0][0]
                )
                if dup:
                    kind = (
                        "primary_key"
                        if keys == list(meta.primary_key)
                        else "unique"
                    )
                    report.append((name, kind, ", ".join(keys), int(dup)))
            for cols, ref_table, ref_cols in meta.foreign_keys:
                if ref_table not in self.catalog.tables:
                    report.append(
                        (name, "foreign_key", f"-> {ref_table} (missing)", -1)
                    )
                    continue
                orphans = self._orphans(df, cols, ref_table, ref_cols).count()
                if orphans:
                    report.append(
                        (
                            name,
                            "foreign_key",
                            f"({', '.join(cols)}) -> {ref_table}",
                            orphans,
                        )
                    )
            report += [r for r in found if r[1] == "check"]
        return self._rows(
            report,
            "table_name string, constraint_type string, "
            "constraint string, n_violations long",
        )

    def _copy(self, s: str) -> DataFrame:
        # pg `COPY (query) TO 'path' [opts]` — export an arbitrary query
        # result (the standard pg export idiom). The query runs through
        # the normal SELECT path (preprocess + catalog views).
        qm = re.match(
            r"COPY\s*\((.*)\)\s*TO\s+'([^']+)'(.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if qm:
            df = self.spark.sql(preprocess(qm.group(1).strip()))
            path, opts = qm.group(2), qm.group(3).upper()
            self._write_copy(df, path, opts)
            return self._status(f"copy query to {path}", df.count())
        m = re.match(
            rf"COPY\s+({_IDENT})\s+(FROM|TO)\s+'([^']+)'(.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"bad COPY: {s[:80]}")
        meta = self._table(m.group(1).lower())
        direction, path, opts = m.group(2).upper(), m.group(3), m.group(4).upper()
        header = "HEADER" in opts
        # FORMAT PARQUET / JSONL (⬆ — reference COPY is CSV-only,
        # executor/CopyExecutor semantics): zero-parse bulk load/unload,
        # plus the newline-delimited-JSON interchange format every
        # training-data pipeline speaks (Spark's native json source IS
        # JSONL: one object per line, splittable, schema enforced on
        # read so a malformed line fails loudly instead of widening
        # types).
        parquet = re.search(r"\bFORMAT\s+PARQUET\b", opts) is not None
        jsonl = re.search(r"\bFORMAT\s+JSONL?\b", opts) is not None
        orc = re.search(r"\bFORMAT\s+ORC\b", opts) is not None
        if direction == "FROM":
            if parquet:
                df = self.spark.read.schema(meta.spark_ddl()).parquet(path)
            elif orc:
                df = self.spark.read.schema(meta.spark_ddl()).orc(path)
            elif jsonl:
                df = self.spark.read.schema(meta.spark_ddl()).option(
                    "mode", "FAILFAST"
                ).json(path)
            else:
                df = self.spark.read.csv(
                    path, schema=meta.spark_ddl(), header=header
                )
            n, _ = self._commit(meta, df, append=True)
            return self._status(f"copy {meta.name} from {path}", n)
        df = self._read(meta)
        self._write_copy(df, path, opts)
        return self._status(f"copy {meta.name} to {path}", df.count())

    def _write_copy(self, df: DataFrame, path: str, opts: str) -> None:
        """Shared COPY TO writer: CSV (default, + HEADER), PARQUET, ORC,
        JSONL. Columnar formats keep Spark's parallelism; the row formats
        coalesce to one file because pg's COPY contract is a single
        stream."""
        if re.search(r"\bFORMAT\s+PARQUET\b", opts):
            df.write.mode("overwrite").parquet(path)
        elif re.search(r"\bFORMAT\s+ORC\b", opts):
            df.write.mode("overwrite").orc(path)
        elif re.search(r"\bFORMAT\s+JSONL?\b", opts):
            df.coalesce(1).write.mode("overwrite").json(path)
        else:
            df.coalesce(1).write.mode("overwrite").csv(
                path, header="HEADER" in opts
            )

    def _select_asof(self, s: str) -> DataFrame:
        """Time travel: `SELECT ... FROM t VERSION AS OF n` reads the
        retained immutable version directory vn (Delta `VERSION AS OF`
        analog over the engine's version-flip storage). The old files
        carry their own schema, so pre-ALTER versions read back as
        written."""
        def repl(m: re.Match) -> str:
            name, ver = m.group(1).lower(), int(m.group(2))
            meta = self._table(name)
            vpath = os.path.join(os.path.dirname(meta.path), f"v{ver}")
            if not os.path.exists(vpath):
                raise ValueError(
                    f"version {ver} of {name} does not exist "
                    "(vacuumed or never written)"
                )
            alias = f"{name}__asof_v{ver}"
            reader = self.spark.read
            if not any(  # v1 of a table created empty, a TRUNCATE, or a
                f.endswith(".parquet")  # write that left no row
                for _, _, files in os.walk(vpath)
                for f in files
            ):
                reader = reader.schema(meta.spark_ddl())
            reader.parquet(vpath).createOrReplaceTempView(alias)
            return f"FROM {alias}"

        rewritten = re.sub(
            rf"\bFROM\s+({_IDENT})\s+VERSION\s+AS\s+OF\s+(\d+)",
            repl,
            s,
            flags=re.IGNORECASE,
        )
        return self.spark.sql(preprocess(rewritten))

    def _analyze(self, s: str) -> DataFrame:
        """ANALYZE [TABLE] [name]: one aggregate pass computing row count
        and per-column (distinct, null_frac, min, max) into the catalog,
        exposed via the `pg_stats` view (the reference's
        StatisticsCollectorJob, kv/jobs/StatisticsCollectorJob.java:239,
        but exact and on demand; its KV-mode stats were fabricated from
        the table id, optimizer/QueryOptimizer.java:183). At 100 TB swap
        count_distinct for approx_count_distinct — same single pass.
        """
        m = re.match(
            rf"ANALYZE\s+(?:TABLE\s+)?({_IDENT})\s*$", s, re.IGNORECASE
        )
        metas = (
            [self._table(m.group(1).lower())]
            if m
            else list(self.catalog.tables.values())
        )
        for meta in metas:
            df = self.spark.table(meta.name)
            scalars = [
                c for c in meta.columns
                if not c.hidden and "ARRAY" not in c.spark_type.upper()
            ]
            aggs = [F.count(F.lit(1)).alias("__n")]
            for c in scalars:
                col = F.col(c.name)
                aggs += [
                    F.count_distinct(col).alias(f"__d_{c.name}"),
                    F.sum(col.isNull().cast("long")).alias(f"__z_{c.name}"),
                    F.min(col).cast("string").alias(f"__lo_{c.name}"),
                    F.max(col).cast("string").alias(f"__hi_{c.name}"),
                ]
            row = df.agg(*aggs).collect()[0].asDict()
            n = row["__n"]
            meta.stats = {
                "n_rows": n,
                "columns": {
                    c.name: {
                        "n_distinct": row[f"__d_{c.name}"],
                        "null_frac": (
                            row[f"__z_{c.name}"] / n if n else 0.0
                        ),
                        "min": row[f"__lo_{c.name}"],
                        "max": row[f"__hi_{c.name}"],
                    }
                    for c in scalars
                },
            }
        self.catalog.save()
        return self._status(f"analyzed {len(metas)} tables", len(metas))

    def _vacuum(self, s: str) -> DataFrame:
        """VACUUM [table]: drop retained non-current version dirs (the
        reference's VacuumJob / Delta VACUUM analog). Bare VACUUM sweeps
        every managed table."""
        m = re.match(rf"VACUUM\s+({_IDENT})\s*$", s, re.IGNORECASE)
        metas = (
            [self._table(m.group(1).lower())]
            if m
            else list(self.catalog.tables.values())
        )
        removed = 0
        for meta in metas:
            base = os.path.dirname(meta.path)
            current = os.path.basename(meta.path)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if re.fullmatch(r"v\d+", d) and d != current:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
                    removed += 1
        return self._status(f"vacuum: removed {removed} old versions", removed)

    def _explain(self, s: str) -> DataFrame:
        """EXPLAIN -> Catalyst extended plan; EXPLAIN ANALYZE -> execute the
        query distributed (nothing collected to the driver) and render the
        executed physical plan annotated with per-node runtime SQLMetrics
        (numOutputRows, aggTime, shuffle bytes, ...) plus wall time — parity
        with the reference's ExplainExecutor (kv/ExplainExecutor.java:37-120),
        which also runs the target and reports plan + execution stats."""
        analyze = re.match(r"^EXPLAIN\s+ANALYZE", s, re.IGNORECASE)
        inner = re.sub(r"^EXPLAIN\s+(ANALYZE\s+)?", "", s, flags=re.IGNORECASE)
        if not analyze:
            return self.spark.sql(f"EXPLAIN EXTENDED {preprocess(inner)}")
        df = self.spark.sql(preprocess(inner))
        qe = df._jdf.queryExecution()
        t0 = time.time()
        n_rows = qe.executedPlan().execute().count()  # RDD action: runs the
        elapsed_ms = (time.time() - t0) * 1000.0      # plan, collects nothing
        lines = [
            "== Physical Plan (executed) ==",
            f"Execution: {n_rows} rows, {elapsed_ms:.1f} ms",
            "",
        ]
        for depth, node in plan_nodes(qe.executedPlan()):
            parts = sorted(f"{k}={v}" for k, v in node_metrics(node).items())
            lines.append(
                "  " * depth + node.nodeName()
                + (f" [{', '.join(parts)}]" if parts else "")
            )
        return self._rows(
            [(ln,) for ln in lines], "plan string"
        )
