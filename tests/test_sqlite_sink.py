"""SQLite sink: the reference's own scenarios executed against a live
sqlite3 database (reference tests/test_sqlite_connector.py) — real
PRAGMA introspection, real UNIQUE-constraint conflicts, real
autoincrement surrogate keys, real BEGIN/COMMIT/ROLLBACK."""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark import exceptions as X
from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

CAR_DDL = """
CREATE TABLE brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
CREATE TABLE car (
    id INTEGER PRIMARY KEY,
    brand_id INTEGER REFERENCES brand (id),
    model TEXT UNIQUE
);
CREATE TABLE owner (id INTEGER PRIMARY KEY, owner TEXT UNIQUE);
CREATE TABLE purchase (
    car_id INTEGER REFERENCES car (id),
    owner_id INTEGER REFERENCES owner (id),
    price REAL
);
"""


def test_full_star_roundtrip_with_db_keys(spark: SparkSession) -> None:
    """Load a flat frame into a 4-table star; SQLite's autoincrement
    assigns every surrogate key and the generated compare query runs on
    the database itself (reference tests/test_sqlite_connector.py:130-234)."""
    flat = spark.createDataFrame(
        [
            ("audi", "a4", "alice", 30000.0),
            ("audi", "a6", "bob", 40000.0),
            ("bmw", "i3", "alice", 35000.0),
        ],
        "brand string, model string, owner string, price double",
    )
    db = SQLiteConnector(spark)
    db.execute_ddl(CAR_DDL)
    with db:
        out = db.load(flat)

    rows = db.connection.execute(
        """
        SELECT brand, model, owner, price FROM purchase
        JOIN car ON purchase.car_id = car.id
        JOIN brand ON car.brand_id = brand.id
        JOIN owner ON purchase.owner_id = owner.id
        ORDER BY price
        """
    ).fetchall()
    assert rows == [
        ("audi", "a4", "alice", 30000.0),
        ("bmw", "i3", "alice", 35000.0),
        ("audi", "a6", "bob", 40000.0),
    ]
    # keys on the returned frame came from the database
    assert out.filter("car_id IS NULL OR owner_id IS NULL").count() == 0
    # and are genuine sqlite autoincrement values
    ids = sorted(r[0] for r in db.connection.execute("SELECT id FROM car"))
    assert ids == [1, 2, 3]


def test_idempotent_reload(spark: SparkSession) -> None:
    flat = spark.createDataFrame(
        [("audi", "a4", "alice", 30000.0), ("bmw", "i3", "bob", 35000.0)],
        "brand string, model string, owner string, price double",
    )
    db = SQLiteConnector(spark)
    db.execute_ddl(CAR_DDL)
    with db:
        db.load(flat)
    with db:
        db.load(flat)
    counts = {
        t: db.connection.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for t in ("brand", "car", "owner", "purchase")
    }
    assert counts == {"brand": 2, "car": 2, "owner": 2, "purchase": 2}


def test_uniqueness_conflict_rolls_back_database(
    spark: SparkSession, tmp_path
) -> None:
    """Same UNIQUE key, different payload: the database keeps the row
    out, the lifecycle reports InsertingDataFailedError, and the FILE is
    bit-for-bit back at its pre-block state after rollback (reference
    tests/test_sqlite_connector.py:104-127, 197-204)."""
    path = str(tmp_path / "conflict.db")
    db = SQLiteConnector(spark, path)
    db.execute_ddl(
        "CREATE TABLE kv (id INTEGER PRIMARY KEY, naam TEXT UNIQUE,"
        " waarde TEXT);"
    )
    with db:
        db.load(
            spark.createDataFrame([("a", "1")], "naam string, waarde string")
        )
    with pytest.raises(X.InsertingDataFailedError):
        with db:
            db.load(
                spark.createDataFrame(
                    [("a", "2")], "naam string, waarde string"
                )
            )
    # an INDEPENDENT connection sees only the committed pre-block state
    fresh = sqlite3.connect(path)
    assert fresh.execute("SELECT naam, waarde FROM kv").fetchall() == [
        ("a", "1")
    ]
    fresh.close()


def test_missing_values_roundtrip(spark: SparkSession) -> None:
    """NULL payloads survive the lifecycle: the null-safe merge joins
    NULL keys back (reference tests/test_sqlite_connector.py:237-285)."""
    flat = spark.createDataFrame(
        [("audi", "a4"), ("audi", None), ("bmw", None)],
        "brand string, model string",
    )
    db = SQLiteConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE car (
            id INTEGER PRIMARY KEY,
            brand_id INTEGER REFERENCES brand (id),
            model TEXT
        );
        """
    )
    with db:
        out = db.load(flat, exact=False)
    assert out.filter("brand_id IS NULL").count() == 0
    models = sorted(
        r[0] or "-" for r in db.connection.execute("SELECT model FROM car")
    )
    assert models == ["-", "-", "a4"]


def test_introspects_externally_created_database(
    spark: SparkSession, tmp_path
) -> None:
    """D1 executed: a database built by a plain sqlite3 script (not by
    this engine) introspects into the correct DAG — PK/FK/UNIQUE
    classification straight from PRAGMAs, including an implicit
    `REFERENCES t` target resolved to t's primary key."""
    path = str(tmp_path / "external.db")
    raw = sqlite3.connect(path)
    raw.executescript(
        """
        CREATE TABLE genre (gid INTEGER PRIMARY KEY, genre TEXT UNIQUE);
        CREATE TABLE album (
            id INTEGER PRIMARY KEY,
            title TEXT UNIQUE,
            genre_id INTEGER REFERENCES genre
        );
        """
    )
    raw.commit()
    raw.close()

    db = SQLiteConnector(spark, path)
    tables, references = db.fetch_schema()
    by_name = {t["name"]: t for t in tables}
    assert by_name["genre"]["primary_key"] == "gid"
    assert by_name["album"]["foreign_keys"] == ["genre_id"]
    assert by_name["album"]["unique_constraints"] == [["title"]]
    assert references == [
        {
            "from_table": "album",
            "from_key": "genre_id",
            "to_table": "genre",
            "to_key": "gid",
        }
    ]

    # and the introspected schema immediately supports a load
    with db:
        db.load(
            spark.createDataFrame(
                [("rock", "album1"), ("jazz", "album2")],
                "genre string, title string",
            )
        )
    assert (
        db.connection.execute("SELECT count(*) FROM album").fetchone()[0] == 2
    )


def test_composite_primary_key_rejected(spark: SparkSession) -> None:
    db = SQLiteConnector(spark)
    db.connection.executescript(
        "CREATE TABLE pair (a INTEGER, b INTEGER, PRIMARY KEY (a, b));"
    )
    with pytest.raises(X.InvalidTableError, match="composite"):
        db.fetch_schema()


def test_quoted_table_name_introspected(spark: SparkSession) -> None:
    """A quote in a table name is escaped inside the introspection
    SQL's string literals."""
    db = SQLiteConnector(spark)
    db.connection.executescript(
        'CREATE TABLE "it\'s" (id INTEGER PRIMARY KEY, v TEXT UNIQUE);'
    )
    tables, references = db.fetch_schema()
    assert tables == [
        {
            "name": "it's",
            "columns": ["v"],
            "primary_key": "id",
            "foreign_keys": [],
            "unique_constraints": [["v"]],
        }
    ]
    assert references == []


def test_planner_errors_surface(spark: SparkSession) -> None:
    db = SQLiteConnector(spark)
    with pytest.raises(X.EmptySchemaError):
        db.load(spark.createDataFrame([("x",)], "a string"))


def test_custom_dtypes_date_roundtrip(spark: SparkSession) -> None:
    """allow_custom_dtypes parity (reference sqlite_connector.py:156-193):
    with PARSE_DECLTYPES on and user-registered sqlite3 adapters, a
    DATE-declared column round-trips DateType values through the load;
    match_dtypes re-casts the read-back values to the user frame's type."""
    import datetime

    sqlite3.register_adapter(datetime.date, lambda d: d.isoformat())
    sqlite3.register_converter(
        "DATE", lambda b: datetime.date.fromisoformat(b.decode())
    )
    flat = spark.createDataFrame(
        [("alice", datetime.date(2021, 3, 14)), ("bob", datetime.date(2022, 7, 1))],
        "owner string, bought DATE",
    )
    db = SQLiteConnector(spark, allow_custom_dtypes=True)
    db.execute_ddl(
        """
        CREATE TABLE owner (id INTEGER PRIMARY KEY, owner TEXT UNIQUE);
        CREATE TABLE sale (
            owner_id INTEGER REFERENCES owner (id),
            bought DATE
        );
        """
    )
    with db:
        out = db.load(flat)
    assert out.filter("owner_id IS NULL").count() == 0
    stored = db.connection.execute(
        "SELECT bought FROM sale ORDER BY bought"
    ).fetchall()
    assert stored == [
        (datetime.date(2021, 3, 14),),
        (datetime.date(2022, 7, 1),),
    ]


def test_idempotent_reload_constraintless_datetime_table(spark) -> None:
    """Reloading identical rows into a table with NO unique constraint
    must not grow it, even when values change representation across the
    round trip (datetime -> TEXT) — the normalized pre-filter."""
    import datetime

    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    db = SQLiteConnector(spark)
    db.execute_ddl(
        "CREATE TABLE evlog (stamp TIMESTAMP, note TEXT);"
    )
    data = spark.createDataFrame(
        [
            (datetime.datetime(2024, 5, 1, 12, 30, 0), "a"),
            (datetime.datetime(2024, 5, 2, 8, 0, 0), "b"),
        ],
        "stamp timestamp, note string",
    )
    with db:
        db.insert(data, table="evlog")
    with db:
        db.insert(data, table="evlog")
    count = db.connection.execute("SELECT count(*) FROM evlog").fetchone()[0]
    assert count == 2


def test_idempotent_reload_constraintless_bool_table(spark) -> None:
    """A bool column re-loads idempotently although SQLite stores bools
    as INTEGER 0/1 (advice round 10: a driver-side pre-filter once
    normalized the payload's True and the stored 1 to different forms,
    so it never matched and every re-load duplicated constraint-less
    tables)."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    db = SQLiteConnector(spark)
    db.execute_ddl("CREATE TABLE flags (active BOOLEAN, note TEXT);")
    data = spark.createDataFrame(
        [(True, "a"), (False, "b"), (None, "c")],
        "active boolean, note string",
    )
    with db:
        db.insert(data, table="flags")
    with db:
        db.insert(data, table="flags")
    count = db.connection.execute(
        "SELECT count(*) FROM flags"
    ).fetchone()[0]
    assert count == 3


def test_idempotent_reload_takes_target_affinity(spark) -> None:
    """Numeric text converts to its column's affinity before the
    already-stored check: SQLite stores '1.0' into a REAL column as
    1.0, so a re-load of the same string frame must match the stored
    rows and add none (a driver-side filter compared the payload text
    '1.0' against the stored number's canonical form '1', never
    matched, and every re-load doubled the table)."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    db = SQLiteConnector(spark)
    db.execute_ddl("CREATE TABLE m (price REAL, qty INTEGER, note TEXT);")
    data = spark.createDataFrame(
        [("1.0", "7", "a"), ("2.0", "8", "b")],
        "price string, qty string, note string",
    )
    with db:
        db.insert(data, table="m")
    with db:
        db.insert(data, table="m")
    rows = db.connection.execute(
        "SELECT price, qty, note FROM m ORDER BY note"
    ).fetchall()
    assert rows == [(1.0, 7, "a"), (2.0, 8, "b")]


def test_write_reads_no_stored_rows(spark) -> None:
    """The idempotent write leaves the already-stored decision to
    SQLite: no statement it issues returns target rows to Python."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    db = SQLiteConnector(spark)
    db.execute_ddl("CREATE TABLE m (price REAL, qty INTEGER, note TEXT);")
    data = spark.createDataFrame(
        [(1.0, 7, "a"), (2.0, 8, "b")],
        "price double, qty long, note string",
    )
    columns = ["price", "qty", "note"]
    statements: list[str] = []
    db.connection.set_trace_callback(statements.append)
    try:
        with db:
            db._write_new_rows("m", data, columns)  # first load
            db._write_new_rows("m", data, columns)  # re-load
    finally:
        db.connection.set_trace_callback(None)
    assert statements
    reads = [s for s in statements if s.lstrip().upper().startswith("SELECT")]
    assert reads == []
    (count,) = db.connection.execute("SELECT count(*) FROM m").fetchone()
    assert count == 2


def test_heterogeneous_column_falls_back_to_string(spark) -> None:
    """A dynamically-typed SQLite column mixing ints and text must not
    blow up with a bare ValueError mid-compare: the inferred frame falls
    back to string for that column."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    db = SQLiteConnector(spark)
    db.execute_ddl("CREATE TABLE mixed (v, note TEXT);")
    db.connection.executemany(
        "INSERT INTO mixed (v, note) VALUES (?, ?)",
        [(1, "int"), ("abc", "text")],
    )
    db.connection.commit()
    frame = db._execute_compare_query("SELECT v, note FROM mixed")
    got = {tuple(r) for r in frame.collect()}
    assert got == {("1", "int"), ("abc", "text")}


def test_alter_table_evolution_live(spark: SparkSession) -> None:
    """Schema evolution through the live sink: ALTER TABLE ADD COLUMN
    runs on the real database and re-introspection picks it up — the
    same evolution the Spark catalog sink implements in
    tests/test_ddl_evolution.py."""
    db = SQLiteConnector(spark)
    db.execute_ddl("CREATE TABLE ev_doc (doc_id INTEGER, body TEXT);")
    with db:
        db.insert(
            spark.createDataFrame([(1, "x")], "doc_id long, body string"),
            table="ev_doc",
        )
    db.execute_ddl("ALTER TABLE ev_doc ADD COLUMN lang TEXT")
    assert "lang" in db.schema.get_columns("ev_doc")
    with db:
        db.insert(
            spark.createDataFrame(
                [(2, "y", "en")], "doc_id long, body string, lang string"
            ),
            table="ev_doc",
        )
    rows = {
        r["doc_id"]: r["lang"] for r in db._read_table("ev_doc").collect()
    }
    assert rows == {1: None, 2: "en"}
