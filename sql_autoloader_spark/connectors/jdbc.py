"""JDBCConnector — remote-RDBMS parity through ``spark.read/write.jdbc``.

Reference parity: the SQLite / Postgres connectors
(/root/reference/sql_autoloader/sqlite_connector.py:150-259,
/root/reference/sql_autoloader/postgres/postgres_connector.py:160-254).
The reference talks to the DB row-at-a-time over a cursor; here every
exchange is a partitioned JDBC DataFrame read or a batched append write —
the row-dict wire format disappears entirely (SURVEY.md §1.3).

Schema introspection (reference D1/D2) has one classifier,
:func:`classify_schema`, fed row mappings by three sources: a
:class:`Dialect`'s metadata SQL (``information_schema`` / ``pragma_*``
are plain SELECTs, so ``spark.read.jdbc(query)`` runs them remotely,
the Postgres sink runs them over its wire client and the SQLite sink
over ``sqlite3``), or ``java.sql.DatabaseMetaData`` for engines without
one.  The rows are O(#tables) metadata, not data.

Idempotent insert: JDBC has no conflict-ignore write mode, so new rows
are reduced by a left-anti join against the live table's keyed
projection before ``mode("append")`` — the same pattern as the Spark
catalog sink, with the existing side read back partitioned.

Requires the target database's JDBC driver jar on the Spark classpath
(``spark.jars`` / ``--jars``).  Dialects with hand-written metadata SQL
exist for SQLite and Postgres (parity with the reference's PRAGMA /
information_schema introspection); every other database takes the
*portable* path — ``getTables`` / ``getColumns`` / ``getPrimaryKeys`` /
``getImportedKeys`` / ``getIndexInfo`` via the JVM gateway, which is
metadata-sized driver-side work while all DATA still moves through
partitioned ``spark.read/write.jdbc``.  The end-to-end test runs
against Apache Derby (embedded, ships on Spark's own classpath — no
extra jar), exercising introspection, identity surrogate keys,
idempotent appends, and the generated compare query against a real
JDBC database.
"""

from __future__ import annotations

import json
from pyspark.sql import DataFrame, SparkSession

from sql_autoloader_spark.connectors.base import BaseConnector
from sql_autoloader_spark.connectors.ddl import split_statements
from sql_autoloader_spark.exceptions import InvalidTableError
from sql_autoloader_spark.schema import ReferenceDict, TableDict


def _sql_string(value: str) -> str:
    """*value* as a single-quoted SQL literal (SQLite and Postgres both
    escape a quote by doubling it)."""
    return "'" + value.replace("'", "''") + "'"


class Dialect:
    """Metadata queries + quoting for one JDBC dialect."""

    #: identifier quote for generated compare SQL
    quote = '"'

    def tables_query(self) -> str:
        raise NotImplementedError

    def columns_query(self, table: str) -> str:
        raise NotImplementedError

    def references_query(self, table: str) -> str:
        raise NotImplementedError

    def unique_query(self, table: str) -> str:
        """One row per (constraint_name, column_name, ordinal_position)
        of the table's UNIQUE constraints."""
        raise NotImplementedError


class SQLiteDialect(Dialect):
    """Introspection via sqlite_master + pragma table-valued functions
    (reference sqlite_connector.py:84-147)."""

    def tables_query(self) -> str:
        return (
            "SELECT name FROM sqlite_master "
            "WHERE type = 'table' AND name NOT LIKE 'sqlite_%'"
        )

    def columns_query(self, table: str) -> str:
        # one row per column: name, is_pk, referenced table/column (or NULL)
        return f"""
            SELECT i.name AS column_name,
                   i.pk AS is_primary_key,
                   f."table" AS to_table,
                   f."to" AS to_key
            FROM pragma_table_info({_sql_string(table)}) AS i
            LEFT JOIN pragma_foreign_key_list({_sql_string(table)}) AS f
              ON i.name = f."from"
        """

    def references_query(self, table: str) -> str:
        # "to" is NULL for `REFERENCES t` without a column (the target's
        # primary key); classify_schema resolves it
        return f"""
            SELECT "from" AS from_key, "table" AS to_table, "to" AS to_key
            FROM pragma_foreign_key_list({_sql_string(table)})
        """

    def unique_query(self, table: str) -> str:
        # origin 'u': indexes backing UNIQUE constraints (not PRIMARY
        # KEY 'pk', not CREATE [UNIQUE] INDEX 'c')
        return f"""
            SELECT il.name AS constraint_name,
                   ii.name AS column_name,
                   ii.seqno + 1 AS ordinal_position
            FROM pragma_index_list({_sql_string(table)}) AS il
            JOIN pragma_index_info(il.name) AS ii
            WHERE il.origin = 'u'
            ORDER BY il.name, ii.seqno
        """


class PostgresDialect(Dialect):
    """Introspection via information_schema + pg_catalog
    (reference postgres/postgres_connector.py:67-157)."""

    def tables_query(self) -> str:
        return (
            "SELECT table_name AS name FROM information_schema.tables "
            "WHERE table_schema = 'public' AND table_type = 'BASE TABLE'"
        )

    def columns_query(self, table: str) -> str:
        # aggregated per column: a column appearing in several
        # constraints (e.g. a PK that is also an FK) yields one kcu row
        # per constraint, and without MAX() the first-seen row could be
        # the non-PK one — silently misclassifying the primary key.
        # All joins are schema-qualified so a same-named table in
        # another schema cannot contaminate the result.
        return f"""
            SELECT c.column_name,
                   MAX(CASE WHEN tc.constraint_type = 'PRIMARY KEY'
                            THEN 1 ELSE 0 END) AS is_primary_key,
                   NULL AS to_table, NULL AS to_key
            FROM information_schema.columns c
            LEFT JOIN information_schema.key_column_usage kcu
              ON c.table_schema = kcu.table_schema
             AND c.table_name = kcu.table_name
             AND c.column_name = kcu.column_name
            LEFT JOIN information_schema.table_constraints tc
              ON kcu.constraint_schema = tc.constraint_schema
             AND kcu.constraint_name = tc.constraint_name
             AND tc.constraint_type = 'PRIMARY KEY'
            WHERE c.table_schema = 'public'
              AND c.table_name = {_sql_string(table)}
            GROUP BY c.column_name
            ORDER BY MIN(c.ordinal_position)
        """

    def references_query(self, table: str) -> str:
        # ordinal-paired via referential_constraints: the naive
        # constraint_column_usage join yields the CROSS PRODUCT of
        # referencing x referenced columns for a multi-column FK
        # (caught live by tests/test_postgres_live.py's pg_catalog
        # cross-check); position_in_unique_constraint pairs each
        # referencing column with exactly its referenced column
        return f"""
            SELECT kcu.column_name AS from_key,
                   rk.table_name AS to_table,
                   rk.column_name AS to_key
            FROM information_schema.table_constraints tc
            JOIN information_schema.key_column_usage kcu
              ON tc.constraint_schema = kcu.constraint_schema
             AND tc.constraint_name = kcu.constraint_name
            JOIN information_schema.referential_constraints rc
              ON tc.constraint_schema = rc.constraint_schema
             AND tc.constraint_name = rc.constraint_name
            JOIN information_schema.key_column_usage rk
              ON rc.unique_constraint_schema = rk.constraint_schema
             AND rc.unique_constraint_name = rk.constraint_name
             AND kcu.position_in_unique_constraint = rk.ordinal_position
            WHERE tc.constraint_type = 'FOREIGN KEY'
              AND tc.table_schema = 'public'
              AND tc.table_name = {_sql_string(table)}
        """

    def unique_query(self, table: str) -> str:
        return f"""
            SELECT tc.constraint_name,
                   kcu.column_name,
                   kcu.ordinal_position
            FROM information_schema.table_constraints tc
            JOIN information_schema.key_column_usage kcu
              ON tc.constraint_schema = kcu.constraint_schema
             AND tc.constraint_name = kcu.constraint_name
            WHERE tc.constraint_type = 'UNIQUE'
              AND tc.table_schema = 'public'
              AND tc.table_name = {_sql_string(table)}
            ORDER BY tc.constraint_name, kcu.ordinal_position
        """


# quote-aware statement splitting is shared with the DDL parser
_split_statements = split_statements


def classify_schema(
    rows: dict[str, tuple[list, list, list]],
    extra_unique: dict[str, list[list[str]]] | None = None,
) -> tuple[list[TableDict], list[ReferenceDict]]:
    """The one introspection classifier: per-table metadata rows in,
    TableDict/ReferenceDict out.

    ``rows`` maps each table to three lists of mappings (Spark ``Row``s
    or dicts), in the shape a :class:`Dialect`'s queries return:

    - columns (``column_name``, ``is_primary_key``) in declaration
      order, possibly repeated once per constraint;
    - references (``from_key``, ``to_table``, ``to_key``), ``to_key``
      NULL for a ``REFERENCES t`` that names no column;
    - UNIQUE members (``constraint_name``, ``column_name``) in
      ordinal order.

    One column may be the primary key; more raise
    :class:`InvalidTableError` (reference sqlite_connector.py:132).
    Referencing columns, the key included, are the foreign keys in
    declaration order; the rest are payload.  ``REFERENCES t`` targets
    t's key.  UNIQUE rows group per constraint, merge with the
    user-supplied *extra_unique*, and a group equal to ``[key]`` is
    dropped.
    """
    extra_unique = extra_unique or {}
    tables: list[TableDict] = []
    references: list[ReferenceDict] = []
    pk_by_table: dict[str, str] = {}
    for name in sorted(rows):
        col_rows, ref_rows, unique_rows = rows[name]
        columns = list(dict.fromkeys(c["column_name"] for c in col_rows))
        pks = list(
            dict.fromkeys(
                c["column_name"]
                for c in col_rows
                if int(c["is_primary_key"] or 0) > 0
            )
        )
        if len(pks) > 1:
            msg = (
                f"table '{name}' declares a composite primary key {pks};"
                " only single-column keys are supported."
            )
            raise InvalidTableError(msg)
        primary_key = pks[0] if pks else ""
        pk_by_table[name] = primary_key
        fk_names = {r["from_key"] for r in ref_rows}
        references.extend(
            {
                "from_table": name,
                "from_key": r["from_key"],
                "to_table": r["to_table"],
                "to_key": r["to_key"],
            }
            for r in ref_rows
        )
        grouped: dict[str, list[str]] = {}
        for r in unique_rows:
            grouped.setdefault(r["constraint_name"], []).append(
                r["column_name"]
            )
        unique_constraints: list[list[str]] = []
        extra = [list(uc) for uc in extra_unique.get(name, [])]
        for members in [*grouped.values(), *extra]:
            if members != [primary_key] and members not in unique_constraints:
                unique_constraints.append(members)
        tables.append(
            {
                "name": name,
                "columns": [
                    c for c in columns if c != primary_key and c not in fk_names
                ],
                "primary_key": primary_key,
                "foreign_keys": [c for c in columns if c in fk_names],
                "unique_constraints": unique_constraints,
            }
        )
    for ref in references:
        if ref["to_key"] is None:  # `REFERENCES t`: the target's key
            ref["to_key"] = pk_by_table.get(ref["to_table"], "")
    return tables, references


def fetch_schema_with_dialect(
    dialect: Dialect,
    run,  # noqa: ANN001 - Callable[[str], list[Mapping]] (Rows or dicts)
    extra_unique: dict[str, list[list[str]]] | None = None,
) -> tuple[list[TableDict], list[ReferenceDict]]:
    """Introspect a database through a :class:`Dialect`'s metadata SQL.

    ``run`` executes one SQL string and returns its rows as mappings —
    collected Spark ``Row``s over JDBC, dicts off the Postgres wire or
    a ``sqlite3`` cursor — which :func:`classify_schema` classifies.
    """
    rows = {
        name: (
            run(dialect.columns_query(name)),
            run(dialect.references_query(name)),
            run(dialect.unique_query(name)),
        )
        for name in (r["name"] for r in run(dialect.tables_query()))
    }
    return classify_schema(rows, extra_unique)


class JDBCConnector(BaseConnector):
    """Auto-loader over a remote SQL database reached via Spark JDBC.

    Natural keys may be supplied per table via *unique_constraints*
    (``{table: [[col, ...], ...]}``); they merge with the UNIQUE
    constraints introspection finds, since driver support for the
    latter varies.  The remote DB's own constraints still apply on
    append (a violation surfaces as the write error, the analogue of
    the reference's ``InsertingDataFailedError`` path).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        *,
        dialect: Dialect | None = None,
        properties: dict[str, str] | None = None,
        unique_constraints: dict[str, list[list[str]]] | None = None,
        num_partitions: int = 8,
    ) -> None:
        self.spark = spark
        self.url = url
        self.properties = properties or {}
        self.dialect = dialect if dialect is not None else self._infer_dialect(url)
        self._quote = self.dialect.quote if self.dialect else '"'
        self.unique_constraints = unique_constraints or {}
        self.num_partitions = num_partitions
        self.schema = self.get_schema()

    @staticmethod
    def _infer_dialect(url: str) -> Dialect | None:
        """SQL dialect for engines with hand-written metadata queries;
        ``None`` selects the portable ``DatabaseMetaData`` path."""
        if "sqlite" in url:
            return SQLiteDialect()
        if "postgresql" in url:
            return PostgresDialect()
        return None

    # -- JDBC plumbing ---------------------------------------------------------

    def _query(self, sql: str) -> DataFrame:
        """Run *sql* remotely by wrapping it as a JDBC subquery scan."""
        compact = " ".join(sql.split())
        return self.spark.read.jdbc(
            self.url, f"({compact}) AS q", properties=self.properties
        )

    def _driver_connection(self):  # noqa: ANN202 - py4j JavaObject
        """A raw driver-side ``java.sql.Connection`` (metadata/DDL only —
        data never crosses this)."""
        jvm = self.spark._jvm
        if self.properties:
            props = jvm.java.util.Properties()
            for key, value in self.properties.items():
                props.setProperty(key, value)
            return jvm.java.sql.DriverManager.getConnection(self.url, props)
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def execute_ddl(self, script: str) -> None:
        """Run a DDL script statement-by-statement on the remote database
        and re-introspect (reference C5 passthrough, connector.py:167-173)."""
        conn = self._driver_connection()
        try:
            statement = conn.createStatement()
            for raw in _split_statements(script):
                sql = raw.strip()
                if sql:
                    statement.execute(sql)
            if not conn.getAutoCommit():
                conn.commit()
        finally:
            conn.close()
        self.update_schema()

    # -- abstract hooks ----------------------------------------------------------

    def fetch_schema(self) -> tuple[list[TableDict], list[ReferenceDict]]:
        if self.dialect is None:
            return self._fetch_schema_via_metadata()
        return fetch_schema_with_dialect(
            self.dialect,
            lambda sql: self._query(sql).collect(),
            self.unique_constraints,
        )

    def _fetch_schema_via_metadata(
        self,
    ) -> tuple[list[TableDict], list[ReferenceDict]]:
        """Portable introspection through ``java.sql.DatabaseMetaData``
        (the test exercises Apache Derby): its result sets become the
        row mappings :func:`classify_schema` reads.  Unique indexes
        stand in for UNIQUE constraints."""
        conn = self._driver_connection()
        try:
            meta = conn.getMetaData()
            gateway = self.spark.sparkContext._gateway
            types = gateway.new_array(self.spark._jvm.java.lang.String, 1)
            types[0] = "TABLE"

            def read(rs, **fields: str) -> list[dict]:  # noqa: ANN001
                out = []
                while rs.next():
                    out.append({k: rs.getString(c) for k, c in fields.items()})
                return out

            tables = read(meta.getTables(None, None, "%", types), n="TABLE_NAME")
            rows = {}
            for name in (t["n"] for t in tables):
                pk = {
                    r["c"]
                    for r in read(
                        meta.getPrimaryKeys(None, None, name), c="COLUMN_NAME"
                    )
                }
                # getColumns takes a LIKE pattern: `_` in a name also
                # matches other tables' columns
                columns = [
                    {**r, "is_primary_key": int(r["column_name"] in pk)}
                    for r in read(
                        meta.getColumns(None, None, name, "%"),
                        column_name="COLUMN_NAME",
                        table="TABLE_NAME",
                    )
                    if r["table"] == name
                ]
                refs = read(
                    meta.getImportedKeys(None, None, name),
                    from_key="FKCOLUMN_NAME",
                    to_table="PKTABLE_NAME",
                    to_key="PKCOLUMN_NAME",
                )
                uniques = [
                    r
                    for r in read(
                        meta.getIndexInfo(None, None, name, True, False),
                        constraint_name="INDEX_NAME",
                        column_name="COLUMN_NAME",
                    )
                    if r["constraint_name"] and r["column_name"]
                ]
                rows[name] = (columns, refs, uniques)
        finally:
            conn.close()
        return classify_schema(rows, self.unique_constraints)

    def _read_table(self, table: str) -> DataFrame:
        """Partitioned JDBC scan of *table*.

        ``numPartitions`` alone has NO effect on ``spark.read.jdbc`` —
        reads only parallelize when ``column``/``lowerBound``/
        ``upperBound`` are supplied.  When the table has an integer
        primary key, bounds come from one metadata-sized MIN/MAX probe
        (index-backed on any sane RDBMS; rows outside stale bounds
        still land in the first/last stride partition, so bounds need
        not be exact).  Tables without a usable numeric key fall back
        to the single-partition read — inherent to JDBC.
        """
        plain = self.spark.read.jdbc(
            self.url, table, properties=self.properties
        )
        pk = self._integral_pk(table, plain)
        if self.num_partitions > 1 and pk:
            q = self._quote
            bounds = self.spark.read.jdbc(
                self.url,
                f"(SELECT MIN({q}{pk}{q}) AS {q}lo{q}, MAX({q}{pk}{q}) AS {q}hi{q} "
                f"FROM {q}{table}{q}) b0",
                properties=self.properties,
            ).first()
            if bounds is not None and bounds["lo"] is not None:
                lo, hi = int(bounds["lo"]), int(bounds["hi"])
                return self.spark.read.jdbc(
                    self.url,
                    table,
                    column=pk,
                    lowerBound=lo,
                    upperBound=max(hi, lo + 1),
                    numPartitions=self.num_partitions,
                    properties=self.properties,
                )
        return plain

    def _integral_pk(self, table: str, frame: DataFrame) -> str:
        """The table's primary key if its JDBC-reported Spark type is
        integral (the stride column must be numeric); '' otherwise.
        *frame* is the lazy unpartitioned read — consulting its schema
        costs a metadata round-trip, not a scan."""
        schema = getattr(self, "schema", None)
        if schema is None or schema.is_empty:
            return ""
        try:
            t = schema._get_table(table)
        except Exception:
            return ""
        if not t.has_primary_key or t.primary_key not in frame.columns:
            return ""
        dtype = frame.schema[t.primary_key].dataType.simpleString()
        return t.primary_key if dtype in ("int", "bigint", "smallint") else ""

    def _write_new_rows(
        self,
        table: str,
        new_rows: DataFrame,
        columns: list[str],
        *,
        payload_bound: int | None = None,
    ) -> None:
        existing = self._read_table(table)
        anti_keys = [
            uc
            for uc in self.schema._get_table(table).unique_constraints
            if set(uc) <= set(columns)
        ]
        payload = new_rows.select(*columns)
        if anti_keys:
            for key in anti_keys:
                payload = payload.join(
                    existing.select(*key), on=key, how="left_anti"
                )
        else:
            payload = payload.subtract(existing.select(*columns))
        payload.write.jdbc(
            self.url, table, mode="append", properties=self.properties
        )

    def _execute_compare_query(self, query: str) -> DataFrame:
        return self._query(query)

    def __repr__(self) -> str:
        return f"JDBCConnector(url={self.url!r}, dialect={type(self.dialect).__name__}, constraints={json.dumps(self.unique_constraints)})"
