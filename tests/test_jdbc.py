"""JDBC connector tests.

Three layers: dialect inference; the SQLite introspection SQL executed
by a real SQLite engine (in-process ``sqlite3``, same engine a JDBC
driver would wrap); and — since Apache Derby ships on Spark's own
classpath — the FULL end-to-end lifecycle against a live embedded
Derby database: DatabaseMetaData introspection, identity surrogate
keys, idempotent appends, key retrieval, and the generated compare
query, all through ``spark.read/write.jdbc``.
"""

from __future__ import annotations

import re
import sqlite3

import pytest

from sql_autoloader_spark.connectors.jdbc import (
    JDBCConnector,
    PostgresDialect,
    SQLiteDialect,
)

CAR_DDL = """
CREATE TABLE merk (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);
CREATE TABLE dealer (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);
CREATE TABLE merk_dealer (
  id INTEGER PRIMARY KEY,
  merk_id INTEGER REFERENCES merk (id),
  dealer_id INTEGER REFERENCES dealer (id),
  UNIQUE (merk_id, dealer_id)
);
"""


def test_infer_dialect() -> None:
    assert isinstance(
        JDBCConnector._infer_dialect("jdbc:sqlite:/tmp/x.db"), SQLiteDialect
    )
    assert isinstance(
        JDBCConnector._infer_dialect("jdbc:postgresql://h/db"), PostgresDialect
    )
    # unknown engines take the portable DatabaseMetaData path
    assert JDBCConnector._infer_dialect("jdbc:mysql://h/db") is None


def test_sqlite_introspection_sql_against_real_sqlite() -> None:
    """The dialect's metadata queries, run by actual SQLite, must yield
    the reference's TableDict/ReferenceDict content (reference
    sqlite_connector.py:84-147 parity)."""
    dialect = SQLiteDialect()
    con = sqlite3.connect(":memory:")
    con.executescript(CAR_DDL)

    names = sorted(r[0] for r in con.execute(dialect.tables_query()))
    assert names == ["dealer", "merk", "merk_dealer"]

    cols = con.execute(dialect.columns_query("merk_dealer")).fetchall()
    by_name = {c[0]: c for c in cols}
    assert by_name["id"][1] == 1  # pk flag
    assert by_name["merk_id"][2:] == ("merk", "id")
    assert by_name["dealer_id"][2:] == ("dealer", "id")

    refs = set(con.execute(dialect.references_query("merk_dealer")))
    assert refs == {("merk_id", "merk", "id"), ("dealer_id", "dealer", "id")}

    refs_none = con.execute(dialect.references_query("merk")).fetchall()
    assert refs_none == []


CAR_UNIQUE_DDL = (
    CAR_DDL
    + """
    CREATE TABLE car (
      id INTEGER PRIMARY KEY,
      model TEXT UNIQUE,
      code TEXT,
      merk_id INTEGER REFERENCES merk,
      UNIQUE (code, model)
    );
    CREATE UNIQUE INDEX car_code ON car (code);
    """
)


def _sqlite_run(con: sqlite3.Connection):  # noqa: ANN202
    def run(sql: str) -> list[dict]:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, row)) for row in cur.fetchall()]

    return run


def test_sqlite_dialect_matches_sqlite_connector(spark) -> None:
    """SQLite introspection, the JDBC SQLite dialect's SQL run by real
    SQLite through ``SQLiteConnector.fetch_schema``, yields these
    TableDict/ReferenceDict values: UNIQUE constraints (single and
    multi-column, but not a plain unique index) and a ``REFERENCES t``
    without a column, which targets t's primary key.  The JDBC path
    itself needs a driver jar and is not exercised here."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    sc = SQLiteConnector(spark)
    sc.connection.executescript(CAR_UNIQUE_DDL)
    tables, references = sc.fetch_schema()
    assert tables == [
        {
            "name": "car",
            "columns": ["model", "code"],
            "primary_key": "id",
            "foreign_keys": ["merk_id"],
            "unique_constraints": [["model"], ["code", "model"]],
        },
        {
            "name": "dealer",
            "columns": ["naam"],
            "primary_key": "id",
            "foreign_keys": [],
            "unique_constraints": [["naam"]],
        },
        {
            "name": "merk",
            "columns": ["naam"],
            "primary_key": "id",
            "foreign_keys": [],
            "unique_constraints": [["naam"]],
        },
        {
            "name": "merk_dealer",
            "columns": [],
            "primary_key": "id",
            # column-declaration order, not foreign_key_list's
            "foreign_keys": ["merk_id", "dealer_id"],
            "unique_constraints": [["merk_id", "dealer_id"]],
        },
    ]
    edges = sorted(
        (r["from_table"], r["from_key"], r["to_table"], r["to_key"])
        for r in references
    )
    assert edges == [
        ("car", "merk_id", "merk", "id"),
        ("merk_dealer", "dealer_id", "dealer", "id"),
        ("merk_dealer", "merk_id", "merk", "id"),
    ]


def test_dialect_composite_primary_key_rejected() -> None:
    """The dialect path raises the same typed error as every other
    introspection path on a composite primary key."""
    from sql_autoloader_spark.connectors.jdbc import fetch_schema_with_dialect
    from sql_autoloader_spark.exceptions import InvalidTableError

    con = sqlite3.connect(":memory:")
    con.executescript(
        "CREATE TABLE pair (a INTEGER, b INTEGER, PRIMARY KEY (a, b));"
    )
    with pytest.raises(InvalidTableError, match="composite primary key"):
        fetch_schema_with_dialect(SQLiteDialect(), _sqlite_run(con))


def test_dialect_write_anti_joins_on_introspected_unique(
    spark, monkeypatch
) -> None:
    """In dialect mode the idempotent insert anti-joins on the UNIQUE
    keys introspection found, not only on user-supplied ones: a row
    whose natural key is stored is not written again, even with a
    different payload.  ``_query`` runs on sqlite3 and the JDBC write
    is captured, so no driver jar is needed."""
    from pyspark.sql import DataFrameWriter

    con = sqlite3.connect(":memory:")
    con.executescript(
        """
        CREATE TABLE brand (
          id INTEGER PRIMARY KEY, name TEXT UNIQUE, country TEXT
        );
        INSERT INTO brand (name, country) VALUES ('Toyota', 'JP');
        """
    )
    run = _sqlite_run(con)

    class Collected:
        def __init__(self, rows: list[dict]) -> None:
            self.rows = rows

        def collect(self) -> list[dict]:
            return self.rows

    monkeypatch.setattr(
        JDBCConnector, "_query", lambda self, sql: Collected(run(sql))
    )
    monkeypatch.setattr(
        JDBCConnector,
        "_read_table",
        lambda self, table: spark.createDataFrame(
            [("Toyota", "JP")], "name string, country string"
        ),
    )
    written = []
    monkeypatch.setattr(
        DataFrameWriter,
        "jdbc",
        lambda self, *args, **kwargs: written.append(self._df),
    )
    db = JDBCConnector(spark, "jdbc:sqlite::memory:")
    assert isinstance(db.dialect, SQLiteDialect)
    assert db.schema._get_table("brand").unique_constraints == [["name"]]
    db._write_new_rows(
        "brand",
        spark.createDataFrame(
            [("Toyota", "US"), ("Ford", "US")], "name string, country string"
        ),
        ["name", "country"],
    )
    (frame,) = written
    assert sorted(map(tuple, frame.collect())) == [("Ford", "US")]


def test_postgres_introspection_sql_shape() -> None:
    """Postgres queries are plain information_schema SELECTs (syntax
    check only — no server in the container)."""
    dialect = PostgresDialect()
    for sql in (
        dialect.tables_query(),
        dialect.columns_query("t"),
        dialect.references_query("t"),
    ):
        assert re.search(r"\bSELECT\b", sql, re.I)
        assert "information_schema" in sql or "pg_" in sql


def _derby_available(spark) -> bool:
    try:
        spark._jvm.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    except Exception:  # noqa: BLE001
        return False
    return True


def test_jdbc_end_to_end_against_embedded_derby(
    spark, tmp_path
) -> None:
    """The full loader lifecycle against a live JDBC database (Apache
    Derby, embedded — ships with Spark): metadata introspection finds
    tables/PKs/FKs, the DB's identity columns mint surrogate keys, the
    anti-join keeps appends idempotent, key retrieval merges FKs back,
    and the generated compare query validates the round trip remotely.

    Identifiers are uppercase throughout: Derby normalizes unquoted SQL
    identifiers to uppercase and the generated compare query emits
    unquoted table prefixes."""
    from pyspark.sql import functions as F

    if not _derby_available(spark):
        pytest.skip("Derby JDBC driver not on the Spark classpath")

    url = f"jdbc:derby:{tmp_path}/loadertest;create=true"
    db = JDBCConnector(spark, url)
    assert db.dialect is None  # portable metadata path
    db.execute_ddl(
        """
        CREATE TABLE BRAND (
            ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            BRAND VARCHAR(64) NOT NULL,
            CONSTRAINT UQ_BRAND UNIQUE (BRAND)
        );
        CREATE TABLE CAR (
            ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            MODEL VARCHAR(64) NOT NULL,
            BRAND_ID INT REFERENCES BRAND (ID),
            CONSTRAINT UQ_MODEL UNIQUE (MODEL)
        )
        """
    )
    assert not db.schema_is_empty()
    # introspected structure: natural-key UNIQUEs found via index
    # metadata; CAR's FK resolves through the schema graph (the load
    # below would fail to plan otherwise)
    assert db.schema._get_table("BRAND").unique_constraints == [["BRAND"]]
    assert db.schema._get_table("CAR").unique_constraints == [["MODEL"]]

    flat = spark.createDataFrame(
        [
            ("Toyota", "Corolla"),
            ("Toyota", "Yaris"),
            ("Ford", "Focus"),
        ],
        "BRAND string, MODEL string",
    )
    with db:
        out = db.load(flat)
    assert out.count() == 3

    brands = spark.read.jdbc(url, "BRAND")
    cars = spark.read.jdbc(url, "CAR")
    brand_rows = [tuple(r) for r in brands.collect()]
    # identity assignment order is engine-chosen; names and distinct
    # dense ids are not
    assert sorted(name for _id, name in brand_rows) == ["Ford", "Toyota"]
    assert sorted(_id for _id, _name in brand_rows) == [1, 2]
    assert cars.count() == 3
    # FK column resolves to a real brand id
    joined = cars.join(
        brands.withColumnsRenamed({"ID": "BID", "BRAND": "BNAME"}),
        F.col("BRAND_ID") == F.col("BID"),
    )
    assert joined.count() == 3

    # idempotent reload: nothing grows
    with db:
        db.load(flat)
    assert spark.read.jdbc(url, "BRAND").count() == 2
    assert spark.read.jdbc(url, "CAR").count() == 3


def test_derby_metadata_rows_classified(spark, tmp_path) -> None:
    """DatabaseMetaData introspection: a ``_`` in a table name is not a
    wildcard that pulls in another table's columns, and a composite
    primary key raises the same typed error as every other path."""
    from sql_autoloader_spark.exceptions import InvalidTableError

    if not _derby_available(spark):
        pytest.skip("Derby JDBC driver not on the Spark classpath")

    db = JDBCConnector(spark, f"jdbc:derby:{tmp_path}/pairs;create=true")
    db.execute_ddl(
        """
        CREATE TABLE A_B (ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                          X VARCHAR(10));
        CREATE TABLE AXB (ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                          Y VARCHAR(10))
        """
    )
    assert db.schema._get_table("A_B").columns == ["X"]
    assert db.schema._get_table("AXB").columns == ["Y"]
    with pytest.raises(InvalidTableError, match="composite primary key"):
        db.execute_ddl(
            "CREATE TABLE PAIR (A INT NOT NULL, B INT NOT NULL,"
            " PRIMARY KEY (A, B))"
        )


def test_split_statements_honors_quotes() -> None:
    from sql_autoloader_spark.connectors.jdbc import _split_statements

    script = (
        "CREATE TABLE t (c VARCHAR(10) DEFAULT 'a;b');\n"
        'CREATE TABLE "odd;name" (id INT);'
        "INSERT INTO t VALUES ('it''s;fine')"
    )
    parts = [s.strip() for s in _split_statements(script) if s.strip()]
    assert parts == [
        "CREATE TABLE t (c VARCHAR(10) DEFAULT 'a;b')",
        'CREATE TABLE "odd;name" (id INT)',
        "INSERT INTO t VALUES ('it''s;fine')",
    ]
