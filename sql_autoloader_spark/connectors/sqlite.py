"""Driver-side SQLite sink: the reference-parity compatibility connector.

Runs the full loader lifecycle against a live ``sqlite3`` database using
the standard-library driver (no JDBC jar required), so every semantic
the reference relies on executes for real rather than being emulated:

- schema introspection from the database itself: the JDBC
  :class:`~sql_autoloader_spark.connectors.jdbc.SQLiteDialect`'s
  ``pragma_*`` SQL runs over ``sqlite3`` and the shared classifier
  sorts each column into PK, FK, or payload (reference
  sqlite_connector.py:84-147);
- idempotent inserts decided by the database: the payload lands in a
  temp table with the target's column affinities, ``EXCEPT`` drops the
  rows already stored, and ``INSERT OR IGNORE`` against REAL
  ``UNIQUE`` constraints (reference sqlite_connector.py:10-25) keeps
  conflicting rows out at the database layer — a conflict surfaces as
  :class:`InsertingDataFailedError` through the shared lifecycle;
- surrogate keys from SQLite's own ``INTEGER PRIMARY KEY`` rowid
  autoincrement and read back by the key-retrieval scan (reference
  C3 semantics, sqlite_connector.py:45-61) — no engine-side key
  generation at all;
- generated compare queries executed by SQLite itself (double-quote
  identifier dialect);
- genuine transaction brackets: the ``with`` block maps to SQLite
  BEGIN/COMMIT/ROLLBACK (reference sqlite_connector.py:197-204), so a
  failed load leaves the database file bit-for-bit at its pre-block
  state.

Positioning at scale: this is the *compatibility* sink — data crosses
the driver as row batches, which is exactly how the reference works and
is appropriate for dimension-scale targets (an operational SQLite or
small warehouse).  Fact-scale loads belong on
:class:`~sql_autoloader_spark.connectors.spark_catalog.SparkConnector`,
where writes stay distributed.
"""

from __future__ import annotations

import decimal
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sql_autoloader_spark.connectors.base import BaseConnector
from sql_autoloader_spark.connectors.jdbc import (
    SQLiteDialect,
    fetch_schema_with_dialect,
)
from sql_autoloader_spark.connectors.normalize import canonical_number
from sql_autoloader_spark.exceptions import MatchDatatypesError
from sql_autoloader_spark.schema import ReferenceDict, TableDict


def _affinity(declared: str | None) -> DataType:
    """SQLite type affinity (https://sqlite.org/datatype3.html §3.1) to a
    Spark type.  Values are re-coerced to the user frame's dtypes by
    ``ops.match_dtypes`` downstream, so this only needs to be a faithful
    superset of what the column can hold."""
    decl = (declared or "").upper()
    if "INT" in decl:
        return LongType()
    if any(token in decl for token in ("CHAR", "CLOB", "TEXT")):
        return StringType()
    if decl == "" or "BLOB" in decl:
        return BinaryType()
    if any(token in decl for token in ("REAL", "FLOA", "DOUB")):
        return DoubleType()
    # NUMERIC affinity (DECIMAL, DATE, BOOLEAN, ...): values may be
    # numbers, ISO strings, or converter-produced objects — surface as
    # string and let match_dtypes cast to the user frame's type.
    return StringType()


def _coerce(value: object, dtype: DataType) -> object:
    """Align a dynamically-typed SQLite value with the declared affinity
    (SQLite columns may hold any type regardless of declaration).
    Raises ``ValueError``/``TypeError`` on non-coercible values — callers
    translate that into a typed error or a string fallback."""
    if value is None:
        return None
    if isinstance(dtype, LongType):
        return int(value)
    if isinstance(dtype, DoubleType):
        return float(value)
    if isinstance(dtype, StringType):
        return value if isinstance(value, str) else str(value)
    return value


class UnstorableValueError(ValueError):
    """A payload value SQLite cannot store faithfully.

    SQLite has no NaN: binding ``float('nan')`` (or a NaN Decimal)
    silently stores NULL (sqlite.org/floatingpoint.html), so a NaN row
    would come back as a different row.  The sink rejects the value
    loudly BEFORE any write instead (the same contract as the PG wire
    client's lone-surrogate rejection)."""


def _bind_cell(value: object) -> object:
    """sqlite3-bindable canonical form of one payload cell (round 11 —
    found by the type-lattice fuzz): ``decimal.Decimal`` is not a
    registered sqlite3 adapter type (raises ``ProgrammingError``), so
    it binds as its :func:`canonical_number` string — NUMERIC/INTEGER
    affinity columns convert numeric text to INTEGER/REAL by SQLite's
    own rule, TEXT columns keep full precision.  NaN (float or Decimal)
    is rejected typed — see :class:`UnstorableValueError`."""
    if isinstance(value, float):
        if value != value:
            msg = (
                "SQLite cannot store NaN (it silently coerces to NULL);"
                " filter NaN rows out or map them to NULL explicitly."
            )
            raise UnstorableValueError(msg)
        return value
    if isinstance(value, decimal.Decimal):
        if value.is_nan():
            msg = (
                "SQLite cannot store a NaN numeric (it silently"
                " coerces to NULL); filter NaN rows out first."
            )
            raise UnstorableValueError(msg)
        return canonical_number(value)
    return value


class SQLiteConnector(BaseConnector):
    """Auto-loader over a live SQLite database file (or ``:memory:``).

    Parameters
    ----------
    spark:
        Session used for the DataFrame side of the lifecycle (dedup,
        null-safe key merge, compare validation) — the database side
        runs on the stdlib ``sqlite3`` driver.
    db_path:
        Database file; defaults to in-memory.
    allow_custom_dtypes:
        Pass-through of the reference's adapter/converter opt-in
        (sqlite_connector.py:156-193): enables
        ``PARSE_DECLTYPES | PARSE_COLNAMES`` so ``sqlite3`` adapters
        registered by the user apply on reads and writes.
    """

    _quote = '"'

    def __init__(
        self,
        spark: SparkSession,
        db_path: str = ":memory:",
        *,
        allow_custom_dtypes: bool = False,
    ) -> None:
        self.spark = spark
        detect = (
            sqlite3.PARSE_DECLTYPES | sqlite3.PARSE_COLNAMES
            if allow_custom_dtypes
            else 0
        )
        self.connection = sqlite3.connect(db_path, detect_types=detect)
        self.connection.execute("PRAGMA foreign_keys = ON")
        self.schema = self.get_schema()

    # -- transactions ---------------------------------------------------------

    def __enter__(self):  # noqa: ANN204 - Self on 3.11 via base
        return self

    def __exit__(self, exc_type: object, *exception: object) -> None:
        if exc_type is None:
            self.connection.commit()
        else:
            self.connection.rollback()

    def close(self) -> None:
        self.connection.close()

    # -- DDL / metadata -------------------------------------------------------

    def execute_ddl(self, script: str) -> None:
        """Run a DDL script and re-introspect (reference C5 passthrough,
        connector.py:167-173)."""
        self.connection.executescript(script)
        self.connection.commit()
        self.update_schema()

    def fetch_schema(self) -> tuple[list[TableDict], list[ReferenceDict]]:
        def run(sql: str) -> list[dict]:
            cur = self.connection.execute(sql)
            cols = [d[0] for d in cur.description]
            return [dict(zip(cols, row, strict=True)) for row in cur]

        return fetch_schema_with_dialect(SQLiteDialect(), run)

    # -- physical primitives --------------------------------------------------

    def _declared_types(self, table: str) -> dict[str, str]:
        return {
            row[1]: row[2]
            for row in self.connection.execute(
                f'PRAGMA table_info("{table}")'
            ).fetchall()
        }

    def _read_table(self, table: str) -> DataFrame:
        declared = self._declared_types(table)
        cur = self.connection.execute(f'SELECT * FROM "{table}"')
        cols = [d[0] for d in cur.description]
        fields = [
            StructField(c, _affinity(declared.get(c)), nullable=True)
            for c in cols
        ]
        schema = StructType(fields)
        try:
            rows = [
                tuple(
                    _coerce(v, f.dataType)
                    for v, f in zip(row, fields, strict=True)
                )
                for row in cur.fetchall()
            ]
        except (TypeError, ValueError) as e:
            # dynamically-typed SQLite column holding values its declared
            # affinity cannot represent -> typed load error, not a bare
            # ValueError mid-compare
            msg = (
                f"Reading table '{table}' failed: a value does not fit its "
                f"column's declared affinity:\n\t{e!s}"
            )
            raise MatchDatatypesError(msg) from e
        return self.spark.createDataFrame(rows, schema)

    def _write_new_rows(
        self,
        table: str,
        new_rows: DataFrame,
        columns: list[str],
        *,
        payload_bound: int | None = None,
    ) -> None:
        """Idempotent insert, decided by SQLite itself:

        1. the payload lands in a temp table cloned from the target's
           columns (``CREATE TABLE ... AS SELECT ... WHERE 0`` keeps each
           column's affinity), so every value takes the same conversion
           the target would give it;
        2. ``EXCEPT SELECT ... FROM target`` drops rows already stored
           (compound SELECTs treat NULLs as equal), so re-loading
           identical data never grows constraint-less tables — the same
           guarantee the Spark sink's anti-join gives — and the target
           is never read into Python;
        3. the remainder goes through ``INSERT OR IGNORE`` so REAL
           ``UNIQUE`` constraints arbitrate genuine conflicts (same key,
           different payload), exactly like the reference
           (sqlite_connector.py:10-25).
        """
        quoted = ", ".join(f'"{c}"' for c in columns)
        binds = ", ".join("?" for _ in columns)
        # bind the whole payload BEFORE the first statement: a typed
        # rejection (NaN) must fire with nothing written
        payload = [
            tuple(_bind_cell(v) for v in row)
            for row in new_rows.select(*columns).collect()
        ]
        if not payload:
            return
        con = self.connection
        landing = 'temp."__al_landing"'
        # rolling back a block undoes the DROP below when the CREATE
        # ran before the block's first write (outside its transaction)
        con.execute(f"DROP TABLE IF EXISTS {landing}")
        con.execute(
            f'CREATE TEMP TABLE "__al_landing" AS '
            f'SELECT {quoted} FROM "{table}" WHERE 0'
        )
        try:
            con.executemany(
                f"INSERT INTO {landing} ({quoted}) VALUES ({binds})",
                payload,
            )
            con.execute(
                f'INSERT OR IGNORE INTO "{table}" ({quoted}) '
                f"SELECT {quoted} FROM {landing} "
                f'EXCEPT SELECT {quoted} FROM "{table}"'
            )
        finally:
            con.execute(f"DROP TABLE {landing}")

    def _execute_compare_query(self, query: str) -> DataFrame:
        cur = self.connection.execute(query)
        cols = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
        return self._frame_from_rows(rows, cols)

    def _frame_from_rows(
        self, rows: list[tuple], cols: list[str]
    ) -> DataFrame:
        """Land driver-side rows as a DataFrame; columns whose type can't
        be inferred (all-NULL, or no rows at all) fall back to string —
        ``ops.match_dtypes`` re-casts against the user frame downstream."""
        fields = []
        for i, name in enumerate(cols):
            sample = next(
                (row[i] for row in rows if row[i] is not None), None
            )
            if isinstance(sample, bool) or sample is None:
                dtype: DataType = StringType()
            elif isinstance(sample, int):
                dtype = LongType()
            elif isinstance(sample, float):
                dtype = DoubleType()
            elif isinstance(sample, (bytes, bytearray)):
                dtype = BinaryType()
            else:
                dtype = StringType()
            fields.append(StructField(name, dtype, nullable=True))
        # heterogeneous columns (SQLite enforces no affinity) fall back
        # to string rather than raising int('abc') mid-compare
        for i, f in enumerate(fields):
            if isinstance(f.dataType, (LongType, DoubleType)):
                try:
                    for row in rows:
                        _coerce(row[i], f.dataType)
                except (TypeError, ValueError):
                    fields[i] = StructField(f.name, StringType(), True)
        coerced = [
            tuple(
                _coerce(v, f.dataType)
                for v, f in zip(row, fields, strict=True)
            )
            for row in rows
        ]
        return self.spark.createDataFrame(coerced, StructType(fields))
