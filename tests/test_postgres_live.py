"""LIVE PostgreSQL execution of the reference's Postgres path.

The reference's own Postgres suite is skipped for lack of a server
(reference tests/test_postgres_connector.py:48); this container ships
the server binaries, so these tests run the real thing: one embedded
PostgreSQL per module (initdb + unix-socket-only listen + trust auth),
one throwaway database per test.  Everything the DuckDB stand-in
(tests/test_pg_dialect.py) could only emulate executes here for real —
the dialect's information_schema SQL, ON CONFLICT DO NOTHING under
genuine constraints, identity-sequence surrogate keys, wire-level
transaction brackets — against PostgreSQL itself.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.pgwire import (
    EmbeddedPostgres,
    PGWireClient,
    PGWireError,
    copy_text_row,
    pg_literal,
)
from sql_autoloader_spark.connectors.postgres import PostgresConnector
from sql_autoloader_spark.exceptions import InsertingDataFailedError

pytestmark = pytest.mark.skipif(
    not EmbeddedPostgres.available(),
    reason="PostgreSQL server binaries not available",
)


@pytest.fixture(scope="module")
def pg() -> EmbeddedPostgres:
    server = EmbeddedPostgres().start()
    yield server
    server.destroy()


_db_counter = 0


@pytest.fixture
def pg_database(pg: EmbeddedPostgres) -> tuple[EmbeddedPostgres, str]:
    global _db_counter  # noqa: PLW0603 - per-test unique database name
    _db_counter += 1
    name = f"t{_db_counter}"
    pg.createdb(name)
    return pg, name


def _connector(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> PostgresConnector:
    server, name = pg_database
    return PostgresConnector(
        spark, sock_dir=server.sock_dir, port=server.port, database=name
    )


STAR_DDL = """
    CREATE TABLE dim_region (
        id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        region text UNIQUE
    );
    CREATE TABLE dim_nation (
        id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        name text UNIQUE,
        region_id bigint REFERENCES dim_region (id)
    );
"""


def test_wire_literals_roundtrip(pg: EmbeddedPostgres) -> None:
    """pg_literal → server parse → text decode must reproduce every
    value class the lifecycle moves (incl. quote/backslash strings,
    bytea, NaN, aware/naive timestamps, NULL)."""
    client = pg.client()
    try:
        values = [
            None,
            True,
            -(2**62),
            1.5,
            float("nan"),
            float("inf"),
            "it's a \\ backslash",
            b"\x00\xff\x41",
            datetime.date(2024, 2, 29),
            datetime.datetime(2024, 3, 1, 12, 30, 0, 500000),
            Decimal("12.34"),
        ]
        sql = "SELECT " + ", ".join(
            f"{pg_literal(v)} AS c{i}" for i, v in enumerate(values)
        )
        (row,) = client.query(sql).rows
        for sent, got in zip(values, row, strict=True):
            if isinstance(sent, float) and sent != sent:
                assert got != got
            else:
                assert got == sent, (sent, got)
    finally:
        client.close()


def test_wire_error_recovers(pg: EmbeddedPostgres) -> None:
    """An ErrorResponse raises PGWireError with the SQLSTATE and leaves
    the connection usable for the next query."""
    client = pg.client()
    try:
        with pytest.raises(PGWireError) as err:
            client.query("SELECT 1/0")
        assert err.value.sqlstate == "22012"
        assert client.query("SELECT 2 AS two").rows == [(2,)]
    finally:
        client.close()


def test_fetch_schema_classifies(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Live information_schema introspection via the SAME dialect SQL
    the JDBC path golden-pins: PK vs FK vs payload classification, FK
    edges, UNIQUE constraints (single and composite)."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            STAR_DDL
            + """
            CREATE TABLE fact (
                nation_id bigint REFERENCES dim_nation (id),
                a bigint,
                b text,
                UNIQUE (a, b)
            );
            """
        )
        tables, references = db.fetch_schema()
        by_name = {t["name"]: t for t in tables}
        assert set(by_name) == {"dim_region", "dim_nation", "fact"}
        assert by_name["dim_nation"]["primary_key"] == "id"
        assert by_name["dim_nation"]["foreign_keys"] == ["region_id"]
        assert by_name["dim_nation"]["columns"] == ["name"]
        assert by_name["fact"]["primary_key"] == ""
        assert by_name["fact"]["foreign_keys"] == ["nation_id"]
        assert sorted(by_name["fact"]["columns"]) == ["a", "b"]
        assert by_name["dim_region"]["unique_constraints"] == [["region"]]
        assert by_name["fact"]["unique_constraints"] == [["a", "b"]]
        edges = {
            (r["from_table"], r["from_key"], r["to_table"], r["to_key"])
            for r in references
        }
        assert edges == {
            ("dim_nation", "region_id", "dim_region", "id"),
            ("fact", "nation_id", "dim_nation", "id"),
        }
    finally:
        db.close()


def test_load_star_lifecycle_idempotent(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """E5 end to end on live Postgres: load, database-minted surrogate
    keys, compare-validated reconstruction, and a second identical load
    changing nothing (reference connector.py:258-345 semantics)."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(STAR_DDL)
        flat = spark.createDataFrame(
            [
                ("FRANCE", "EUROPE"),
                ("GERMANY", "EUROPE"),
                ("JAPAN", "ASIA"),
                ("JAPAN", "ASIA"),  # input duplicate must collapse
            ],
            "name string, region string",
        )
        with db:
            db.load(flat)
        nations = db._read_table("dim_nation")
        regions = db._read_table("dim_region")
        assert nations.count() == 3
        assert regions.count() == 2
        assert {r["id"] for r in regions.collect()} == {1, 2}

        with db:
            db.load(flat)  # idempotent: nothing may grow
        assert db._read_table("dim_nation").count() == 3
        assert db._read_table("dim_region").count() == 2

        query = db.schema.get_compare_query(["name", "region"], quote='"')
        got = {
            (r["name"], r["region"])
            for r in db._execute_compare_query(query).collect()
        }
        assert got == {
            ("FRANCE", "EUROPE"),
            ("GERMANY", "EUROPE"),
            ("JAPAN", "ASIA"),
        }
    finally:
        db.close()


def test_conflict_raises_and_rolls_back(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Same natural key, different payload: ON CONFLICT DO NOTHING keeps
    the row out, the lifecycle raises InsertingDataFailedError, and the
    wire-level ROLLBACK leaves the database at its pre-block state."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE a (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                naam text UNIQUE NOT NULL,
                waarde bigint NOT NULL
            );
            """
        )
        first = spark.createDataFrame(
            [("a", 1), ("b", 2)], "naam string, waarde long"
        )
        second = spark.createDataFrame(
            [("a", 4), ("b", 5)], "naam string, waarde long"
        )
        with db:
            db.load(first)
        with pytest.raises(InsertingDataFailedError), db:
            db.load(second)
        rows = {
            (r["naam"], r["waarde"]) for r in db._read_table("a").collect()
        }
        assert rows == {("a", 1), ("b", 2)}
    finally:
        db.close()


def test_rollback_mid_transaction_is_total(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A raise inside the ``with`` block — after some tables were
    already written — must undo EVERYTHING (the reference's connection
    rollback, postgres_connector.py:192-199)."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(STAR_DDL)
        flat = spark.createDataFrame(
            [("FRANCE", "EUROPE")], "name string, region string"
        )

        class Boom(Exception):
            pass

        with pytest.raises(Boom), db:
            db.load(flat)
            assert db._read_table("dim_nation").count() == 1  # visible in-tx
            raise Boom
        assert db._read_table("dim_nation").count() == 0
        assert db._read_table("dim_region").count() == 0
    finally:
        db.close()


def test_fk_edges_agree_with_pg_catalog(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The dialect's information_schema FK introspection cross-checked
    against an INDEPENDENT pg_catalog query (written from the public
    pg_constraint/pg_attribute docs — the reference reads the same
    catalogs, postgres_connector.py:143-151).  Two disjoint views of
    the server's own metadata must yield identical FK edges, including
    a multi-column FK where ordinal pairing matters."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(STAR_DDL)
        # the composite-PK pair goes through the raw client: the
        # connector's fetch_schema rejects multi-column PRIMARY KEYs by
        # design (single-surrogate-key invariant), but the dialect's FK
        # SQL must still pair the multi-column edge correctly
        db.client.execute(
            """
            CREATE TABLE multi (
                x bigint,
                y bigint,
                PRIMARY KEY (x, y)
            );
            CREATE TABLE refs_multi (
                mx bigint,
                my bigint,
                FOREIGN KEY (mx, my) REFERENCES multi (x, y)
            );
            """
        )
        catalog_rows = db.client.query(
            """
            SELECT src.relname AS from_table,
                   sa.attname AS from_key,
                   tgt.relname AS to_table,
                   ta.attname AS to_key
            FROM pg_constraint con
            JOIN pg_class src ON src.oid = con.conrelid
            JOIN pg_class tgt ON tgt.oid = con.confrelid
            CROSS JOIN LATERAL unnest(con.conkey, con.confkey)
                 AS pair(src_attnum, tgt_attnum)
            JOIN pg_attribute sa ON sa.attrelid = con.conrelid
                 AND sa.attnum = pair.src_attnum
            JOIN pg_attribute ta ON ta.attrelid = con.confrelid
                 AND ta.attnum = pair.tgt_attnum
            WHERE con.contype = 'f'
              AND src.relnamespace = 'public'::regnamespace
            """
        ).rows
        catalog_edges = {tuple(r) for r in catalog_rows}

        dialect_edges = set()
        for name in ("dim_region", "dim_nation", "multi", "refs_multi"):
            for row in db._rows(db.dialect.references_query(name)):
                dialect_edges.add(
                    (name, row["from_key"], row["to_table"], row["to_key"])
                )
        assert dialect_edges == catalog_edges
        assert ("refs_multi", "mx", "multi", "x") in catalog_edges
        assert ("refs_multi", "my", "multi", "y") in catalog_edges
    finally:
        db.close()


def test_typed_reads_map_oids(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """_read_table's OID → Spark schema mapping on a wide-typed table,
    round-tripped through a real INSERT."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE wide (
                i bigint, f double precision, s text, bin bytea,
                d date, ts timestamp, flag boolean, num numeric(8,2)
            );
            """
        )
        db.client.execute(
            "INSERT INTO wide VALUES "
            "(7, 1.25, 'x''y', '\\xdead'::bytea, '2024-01-02'::date, "
            "'2024-01-02 03:04:05'::timestamp, TRUE, 12.34)"
        )
        frame = db._read_table("wide")
        dtypes = dict(frame.dtypes)
        assert dtypes == {
            "i": "bigint",
            "f": "double",
            "s": "string",
            "bin": "binary",
            "d": "date",
            "ts": "timestamp_ntz",
            "flag": "boolean",
            "num": "decimal(8,2)",
        }
        (row,) = frame.collect()
        assert row["i"] == 7
        assert row["s"] == "x'y"
        assert bytes(row["bin"]) == b"\xde\xad"
        assert row["num"] == Decimal("12.34")
    finally:
        db.close()


# -- distributed COPY path ---------------------------------------------------


def _copy_connector(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> PostgresConnector:
    """Connector with the distributed COPY path forced for every write
    (copy_threshold=0: no payload is 'small')."""
    server, name = pg_database
    return PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        copy_threshold=0,
    )


def test_copy_in_roundtrips_value_classes(pg: EmbeddedPostgres) -> None:
    """copy_text_row → COPY FROM STDIN → typed read must reproduce
    every value class the lifecycle moves, including the COPY text
    escapes (tab/newline/backslash in strings), NULL, bytea, NaN."""
    client = pg.client()
    try:
        client.execute(
            "CREATE TABLE copy_rt (a bigint, b text, c double precision,"
            " d timestamp, e bytea, f numeric(10, 2), g boolean)"
        )
        rows = [
            (
                1,
                "tab\there \\ and\nnewline",
                1.5,
                datetime.datetime(2020, 1, 2, 3, 4, 5, 123456),
                b"\x00\xff",
                Decimal("12.34"),
                True,
            ),
            (None, None, float("nan"), None, None, None, False),
        ]
        copied = client.copy_in(
            "COPY copy_rt (a, b, c, d, e, f, g) FROM STDIN",
            (copy_text_row(r) for r in rows),
        )
        assert copied == 2
        got = client.query("SELECT * FROM copy_rt ORDER BY a NULLS LAST").rows
        assert got[0] == rows[0]
        assert got[1][0] is None
        assert got[1][2] != got[1][2]  # NaN
        assert got[1][6] is False
        client.execute("DROP TABLE copy_rt")
    finally:
        client.close()


def test_copy_in_error_drains_and_recovers(pg: EmbeddedPostgres) -> None:
    """A server error before (bad table) or during (bad cell) the COPY
    stream raises PGWireError and leaves the connection usable."""
    client = pg.client()
    try:
        with pytest.raises(PGWireError) as err:
            client.copy_in("COPY nosuch FROM STDIN", iter([b"1\n"]))
        assert err.value.sqlstate == "42P01"
        client.execute("CREATE TABLE copy_err (a bigint)")
        with pytest.raises(PGWireError):  # 'x' does not cast to bigint
            client.copy_in(
                "COPY copy_err (a) FROM STDIN", iter([b"1\n", b"x\n"])
            )
        assert client.query("SELECT count(*) FROM copy_err").rows == [(0,)]
        client.execute("DROP TABLE copy_err")
    finally:
        client.close()


def test_copy_path_load_matches_driver_path(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The SAME star load executed through the distributed COPY path
    must land the identical row set the driver path lands,
    including null-key rows, and a second identical load must not grow
    anything (both idempotency layers run server-side)."""
    server, name = pg_database
    db = _copy_connector(spark, pg_database)
    try:
        db.execute_ddl(STAR_DDL)
        flat = spark.createDataFrame(
            [
                ("FRANCE", "EUROPE"),
                ("GERMANY", "EUROPE"),
                ("JAPAN", "ASIA"),
                ("LIMBO", None),  # null region must survive null-safely
            ],
            "name string, region string",
        )
        with db:
            db.load(flat)
        with db:
            db.load(flat)  # idempotent through COPY
        # surrogate ids are opaque (assignment order is unordered under
        # SELECT DISTINCT); the comparable result is the reconstruction
        reconstruct = (
            'SELECT n."name" AS name, r."region" AS region '
            'FROM "dim_nation" n LEFT JOIN "dim_region" r '
            'ON n."region_id" = r."id"'
        )
        copy_nations = {
            tuple(row) for row in db.client.query(reconstruct).rows
        }
        assert copy_nations == {tuple(r) for r in flat.collect()}
        # EUROPE, ASIA, and the null region (kept null-safely; PG's
        # UNIQUE lets NULL repeat — the IS NOT DISTINCT FROM pre-filter
        # is what held it to one row across the two loads)
        assert db._read_table("dim_region").count() == 3

        # driver-path twin in a second database
        twin = f"{name}_driver"
        server.createdb(twin)
        driver_db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=twin,
            copy_threshold=10**9,
        )
        try:
            driver_db.execute_ddl(STAR_DDL)
            with driver_db:
                driver_db.load(flat)
            assert copy_nations == {
                tuple(row)
                for row in driver_db.client.query(reconstruct).rows
            }
        finally:
            driver_db.close()

        # no staging machinery may remain, and introspection never saw it
        assert db._rows(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = '_al_staging'"
        ) == []
        assert set(db.get_schema().graph.nodes) == {
            "dim_region",
            "dim_nation",
        }
    finally:
        db.close()


def test_copy_path_conflict_raises_and_sweeps(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Uniqueness conflict through the COPY path: ON CONFLICT keeps the
    row out server-side, the lifecycle raises, the transaction rolls
    back, and the rolled-back staging table is swept on exit."""
    db = _copy_connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE a (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                naam text UNIQUE NOT NULL,
                waarde bigint NOT NULL
            );
            """
        )
        with db:
            db.load(spark.createDataFrame(
                [("a", 1), ("b", 2)], "naam string, waarde long"
            ))
        with pytest.raises(InsertingDataFailedError), db:
            db.load(spark.createDataFrame(
                [("a", 4)], "naam string, waarde long"
            ))
        rows = {
            (r["naam"], r["waarde"]) for r in db._read_table("a").collect()
        }
        assert rows == {("a", 1), ("b", 2)}
        assert db._rows(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = '_al_staging'"
        ) == []
    finally:
        db.close()


def test_copy_path_over_tcp(spark: SparkSession) -> None:
    """Executors dial the server over loopback TCP — the connection
    path a real cluster uses — and the COPY load lands."""
    server = EmbeddedPostgres(tcp=True).start()
    try:
        server.createdb("tcpdb")
        db = PostgresConnector(
            spark,
            host=server.host,
            port=server.port,
            database="tcpdb",
            copy_threshold=0,
        )
        try:
            db.execute_ddl(STAR_DDL)
            flat = spark.createDataFrame(
                [("FRANCE", "EUROPE"), ("JAPAN", "ASIA")],
                "name string, region string",
            )
            with db:
                db.load(flat)
            assert db._read_table("dim_nation").count() == 2
        finally:
            db.close()
    finally:
        server.destroy()


def test_sweep_staging_recovers_orphans(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A crashed driver's leftover staging tables are dropped by
    sweep_staging (the PG twin of SparkConnector.recover_staging)."""
    db = _copy_connector(spark, pg_database)
    try:
        db.client.execute(
            'CREATE SCHEMA IF NOT EXISTS "_al_staging";'
            'CREATE TABLE "_al_staging"."stage_orphan_deadbeef" (a bigint)'
        )
        assert db.sweep_staging() == 1
        assert db._rows(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = '_al_staging'"
        ) == []
    finally:
        db.close()


def test_high_precision_decimals_both_insert(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Two numerics equal in float53 but distinct beyond it must BOTH
    survive the idempotency pre-filter (the old Decimal->float collapse
    wrongly filtered the second as already-present), and a re-load of
    either must still be filtered as a true duplicate."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl("CREATE TABLE measurements (v numeric(38, 20))")
        first = "1.00000000000000000001"
        second = "1.00000000000000000002"
        assert float(first) == float(second)  # equal in float53
        from pyspark.sql import functions as F

        def frame(text: str):
            return spark.range(1).select(
                F.lit(text).cast("decimal(38,20)").alias("v")
            )

        db.insert(frame(first), table="measurements")
        db.insert(frame(second), table="measurements")
        assert db.client.query(
            "SELECT count(*) FROM measurements"
        ).rows == [(2,)]
        db.insert(frame(second), table="measurements")  # true duplicate
        assert db.client.query(
            "SELECT count(*) FROM measurements"
        ).rows == [(2,)]
    finally:
        db.close()


def test_copy_in_producer_failure_sends_copyfail(pg: EmbeddedPostgres) -> None:
    """A chunk producer raising mid-stream must abort the COPY with
    CopyFail and leave the CONNECTION usable (long-lived callers reuse
    it), with nothing persisted."""
    client = pg.client()
    try:
        client.execute("CREATE TABLE copy_prod (a bigint)")

        class ProducerBoom(Exception):
            pass

        def chunks():
            yield b"1\n"
            raise ProducerBoom

        with pytest.raises(ProducerBoom):
            client.copy_in("COPY copy_prod (a) FROM STDIN", chunks())
        # connection drained to ReadyForQuery and still usable
        assert client.query("SELECT 41 + 1 AS x").rows == [(42,)]
        assert client.query("SELECT count(*) FROM copy_prod").rows == [(0,)]
        client.execute("DROP TABLE copy_prod")
    finally:
        client.close()


def test_commit_of_aborted_transaction_raises(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """If an error aborts the transaction and the block swallows it,
    PostgreSQL turns the final COMMIT into a ROLLBACK reported only via
    the command tag — the connector must surface that instead of
    claiming the block persisted."""
    from sql_autoloader_spark.exceptions import TransactionAbortedError

    db = _connector(spark, pg_database)
    try:
        db.execute_ddl("CREATE TABLE swallowed (a bigint)")
        with pytest.raises(TransactionAbortedError), db:
            db.client.execute("INSERT INTO swallowed VALUES (1)")
            try:
                db.client.execute("SELECT 1/0")  # aborts the transaction
            except PGWireError:
                pass  # user code swallows the error
        assert db.client.query("SELECT count(*) FROM swallowed").rows == [
            (0,)
        ]
    finally:
        db.close()


FACT_DDL = """
    CREATE TABLE dim_user (
        id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        username text UNIQUE
    );
    CREATE TABLE fact_event (
        user_id bigint REFERENCES dim_user (id),
        kind text,
        amount double precision
    );
"""


def test_serverside_compare_moves_o1_rows(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The happy-path load validation must NOT pull the fact-sized
    reconstruction through the driver wire connection: the checksum
    aggregate runs inside PostgreSQL and O(1) numbers come back.  The
    DataRow counter on the lifecycle connection is the witness."""
    db = _copy_connector(spark, pg_database)
    try:
        db.execute_ddl(FACT_DDL)
        n = 1500
        flat = (
            spark.range(n)
            .selectExpr(
                "concat('user_', id % 40) AS username",
                "concat('kind_', id % 7) AS kind",
                "cast(id AS double) / 8 AS amount",
            )
        )
        before = db.client.data_rows
        with db:
            db.load(flat)
        driver_rows = db.client.data_rows - before
        assert db.client.query(
            "SELECT count(*) FROM fact_event"
        ).rows == [(n,)]
        # dimension scans (40 users) + metadata + the 1-row checksum —
        # nothing fact-sized.  Without the server-side compare this is
        # >= 1500 (the full reconstruction pull).
        assert driver_rows < 300, driver_rows
    finally:
        db.close()


def test_serverside_compare_mismatch_falls_back(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A checksum mismatch must fall back to the row-pulling grouped
    compare and raise the classified error with samples (identical
    failure semantics to the in-Spark fast path)."""
    from sql_autoloader_spark.exceptions import CompareNoExactMatchError

    db = _copy_connector(spark, pg_database)
    try:
        db.execute_ddl(FACT_DDL)
        flat = spark.createDataFrame(
            [("ann", "click", 1.5), ("bob", "view", 2.5)],
            "username string, kind string, amount double",
        )
        with db:
            db.load(flat)
        # tamper: the reconstruction no longer matches the data
        db.client.execute(
            "UPDATE fact_event SET amount = 99.0 WHERE kind = 'click'"
        )
        with pytest.raises(CompareNoExactMatchError):
            db.compare(flat, _fast=True)
        # and the direct hook agrees (False, not an exception)
        query = db.schema.get_compare_query(
            ["username", "kind", "amount"], quote='"'
        )
        from sql_autoloader_spark.ops import dataframe_ops as ops

        assert (
            db._serverside_fast_compare(ops.preprocess(flat, None), query)
            is False
        )
    finally:
        db.close()


def test_copy_text_parse_is_inverse_of_row(pg: EmbeddedPostgres) -> None:
    """copy_text_row -> server -> COPY TO STDOUT -> copy_text_parse must
    reproduce every value class, including the text escapes, NULL,
    bytea, NaN, aware timestamps, high-precision numerics."""
    from sql_autoloader_spark.connectors.pgwire import copy_text_parse

    client = pg.client()
    try:
        client.execute("SET TIME ZONE 'UTC'")
        client.execute(
            "CREATE TABLE copy_rt2 (a bigint, b text, c double precision,"
            " d timestamptz, e bytea, f numeric(38, 20), g boolean,"
            " h date)"
        )
        rows = [
            (
                1,
                "tab\there \\ and\nnewline and \r cr",
                -0.0000123,
                datetime.datetime(
                    2020, 6, 1, 3, 4, 5, 123456, tzinfo=datetime.timezone.utc
                ),
                b"\x00\xff\x5c",
                Decimal("1.00000000000000000001"),
                True,
                datetime.date(1999, 12, 31),
            ),
            (None, None, float("nan"), None, None, None, None, None),
        ]
        client.copy_in(
            "COPY copy_rt2 FROM STDIN",
            (copy_text_row(r) for r in rows),
        )
        oids = list(client.query("SELECT * FROM copy_rt2 LIMIT 0").oids)
        got = [
            copy_text_parse(line, oids)
            for line in client.copy_out(
                "COPY (SELECT * FROM copy_rt2 ORDER BY a NULLS LAST) "
                "TO STDOUT"
            )
        ]
        assert got[0] == rows[0]
        assert got[0][3].utcoffset() is not None  # aware timestamptz
        assert got[1][0] is None
        assert got[1][2] != got[1][2]  # NaN
        client.execute("DROP TABLE copy_rt2")
    finally:
        client.close()


def test_distributed_read_matches_driver_read(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A keyed table above read_copy_bytes reads through executor ctid
    ranges — same rows as the driver pull, with no fact-sized DataRow
    traffic on the lifecycle connection."""
    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        read_copy_bytes=64 << 10,  # 64 KiB: the 20k-row heap is "big"
    )
    try:
        db.execute_ddl(
            "CREATE TABLE keyed_fact ("
            " id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,"
            " payload text, score double precision, UNIQUE (payload));"
            "CREATE TABLE event_log ("
            " kf bigint REFERENCES keyed_fact (id), note text)"
        )
        db.client.execute(
            "INSERT INTO keyed_fact (payload, score)"
            " SELECT 'payload_' || g || repeat('x', 40), g / 7.0"
            " FROM generate_series(1, 20000) g"
        )
        before = db.client.data_rows
        frame = db._read_table("keyed_fact")
        assert frame.rdd.getNumPartitions() > 1  # genuinely ranged
        assert frame.count() == 20000
        stats = frame.agg(
            {"id": "sum", "score": "max", "payload": "min"}
        ).collect()[0]
        assert stats["sum(id)"] == 20000 * 20001 // 2
        assert stats["max(score)"] == 20000 / 7.0
        assert stats["min(payload)"] == "payload_10000" + "x" * 40  # lexicographic
        # the lifecycle connection moved only metadata (LIMIT 0, sizes)
        assert db.client.data_rows - before < 10
        # retrieve_ids over the big keyed table: the snapshot is the
        # distributed read; keys come back correct
        flat = spark.createDataFrame(
            [("payload_5" + "x" * 40,), ("payload_77" + "x" * 40,)],
            "payload string",
        )
        out = db.retrieve_ids(flat, table="keyed_fact", alias="kf")
        assert {r["kf"] for r in out.collect()} == {5, 77}
    finally:
        db.close()


def test_distributed_read_bare_numeric_and_quoted_name(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A bare unconstrained ``numeric`` column maps to StringType (no
    typmod to carry precision) — the distributed reader must land it as
    strings like the driver path's _frame coercion, not crash schema
    verification with Decimals.  And a table name containing a quote
    must survive the size lookup (it travels inside a string literal)."""
    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        read_copy_bytes=16 << 10,
    )
    try:
        db.client.execute(
            "CREATE TABLE bare_num (i bigint, v numeric);"
            "INSERT INTO bare_num SELECT g, g * 1.5"
            " FROM generate_series(1, 5000) g"
        )
        frame = db._read_table("bare_num")
        assert frame.count() == 5000
        assert dict(frame.dtypes)["v"] == "string"
        sample = {r["v"] for r in frame.where("i <= 2").collect()}
        assert sample == {"1.5", "3.0"}
        # quote-bearing identifier: size lookup, the driver read, AND
        # the distributed ctid-range read (its pg_relation_size call
        # also carries the name inside a regclass literal) all survive
        db.client.execute("CREATE TABLE \"it's\" (a bigint)")
        assert db._table_size("it's") is not None
        assert db._read_table("it's").count() == 0
        db.client.execute(
            "INSERT INTO \"it's\" SELECT g FROM generate_series(1, 9000) g"
        )
        # 38 heap blocks -> one ctid range, but the DISTRIBUTED path
        # (executor COPY-out + both regclass lookups) is what runs:
        # the heap exceeds read_copy_bytes=16K
        assert db._read_table("it's").count() == 9000
    finally:
        db.close()


def test_fetch_schema_quoted_table_name(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A quote in a table name is escaped inside the dialect's string
    literals: introspection finds the table's key, FK and UNIQUE
    constraint instead of failing with a syntax error."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            STAR_DDL
            + """
            CREATE TABLE "it's" (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                v text UNIQUE,
                region_id bigint REFERENCES dim_region (id)
            );
            """
        )
        tables, references = db.fetch_schema()
        by_name = {t["name"]: t for t in tables}
        assert by_name["it's"] == {
            "name": "it's",
            "columns": ["v"],
            "primary_key": "id",
            "foreign_keys": ["region_id"],
            "unique_constraints": [["v"]],
        }
        assert {
            "from_table": "it's",
            "from_key": "region_id",
            "to_table": "dim_region",
            "to_key": "id",
        } in references
    finally:
        db.close()


def test_primary_key_that_is_a_foreign_key_loads(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A key that also references another table's key (a 1:1
    extension table) is both the primary key and a foreign key, so a
    load fills it from the parent's retrieved keys."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE car (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                model text UNIQUE
            );
            CREATE TABLE car_detail (
                car_id bigint PRIMARY KEY REFERENCES car (id),
                note text
            );
            """
        )
        detail = db.schema._get_table("car_detail")
        assert detail.primary_key == "car_id"
        assert detail.foreign_keys == ["car_id"]
        with db:
            db.load(
                spark.createDataFrame(
                    [("a", "n1"), ("b", "n2")], "model string, note string"
                )
            )
        assert db.client.query(
            "SELECT c.model, d.note FROM car c"
            " JOIN car_detail d ON d.car_id = c.id ORDER BY c.model"
        ).rows == [("a", "n1"), ("b", "n2")]
    finally:
        db.close()


def test_copy_and_driver_paths_store_identical_timestamps(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Under a NON-UTC session timezone the driver path and the
    distributed COPY path must store bit-identical values for both
    timestamptz and timestamp columns — otherwise re-loading the same
    data through the other path duplicates rows with shifted clocks."""
    server, name = pg_database
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        flat = spark.createDataFrame(
            [
                (
                    i,
                    datetime.datetime(
                        2024, 3, 10, 6, 30, i, tzinfo=datetime.timezone.utc
                    ),
                )
                for i in range(4)
            ],
            "i long, moment timestamp",
        )
        for label, threshold in (("driver", 10_000), ("copy", 0)):
            db = PostgresConnector(
                spark,
                sock_dir=server.sock_dir,
                port=server.port,
                database=name,
                copy_threshold=threshold,
            )
            try:
                db.client.execute(
                    f"CREATE TABLE ts_{label} ("
                    " i bigint, moment_tz timestamptz, moment_ntz timestamp)"
                )
                db.schema = db.get_schema()
                # _known_count routes the 'driver' leg through the
                # driver COPY path (payload_bound <= threshold);
                # without it the bound is unknown and BOTH legs would
                # take the COPY path, comparing COPY with itself
                db.insert(
                    flat.selectExpr(
                        "i", "moment AS moment_tz", "moment AS moment_ntz"
                    ),
                    table=f"ts_{label}",
                    _known_count=4,
                )
            finally:
                db.close()
        check = server.client(database=name)
        try:
            check.execute("SET TIME ZONE 'UTC'")
            a = check.query(
                "SELECT i, moment_tz::text, moment_ntz::text"
                " FROM ts_driver ORDER BY i"
            ).rows
            b = check.query(
                "SELECT i, moment_tz::text, moment_ntz::text"
                " FROM ts_copy ORDER BY i"
            ).rows
            assert a == b, (a, b)
            # the exact instant survived: 06:30 UTC
            assert a[0][1].startswith("2024-03-10 06:30:00")
            assert a[0][2].startswith("2024-03-10 06:30:00")
        finally:
            check.close()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_scram_sha256_auth_full_lifecycle(spark: SparkSession) -> None:
    """SCRAM-SHA-256 (PostgreSQL's default auth since v14) end to end:
    the pure-stdlib exchange authenticates driver, aux, and executor
    COPY connections over TCP, a wrong password is rejected, and the
    server's own signature is verified (mutual auth)."""
    server = EmbeddedPostgres(
        tcp=True, auth="scram-sha-256", password="s3cret pw"
    ).start()
    try:
        with pytest.raises((PGWireError, ConnectionError)):
            PGWireClient(
                host=server.host,
                port=server.port,
                password="wrong",
            )
        with pytest.raises(ConnectionError, match="password"):
            PGWireClient(host=server.host, port=server.port)  # none given
        server.createdb("scramdb")
        db = PostgresConnector(
            spark,
            host=server.host,
            port=server.port,
            database="scramdb",
            password="s3cret pw",
            copy_threshold=0,  # force executor COPY connections
        )
        try:
            db.execute_ddl(STAR_DDL)
            flat = spark.createDataFrame(
                [("FRANCE", "EUROPE"), ("JAPAN", "ASIA")],
                "name string, region string",
            )
            with db:
                db.load(flat)
            assert db.client.query(
                "SELECT count(*) FROM dim_nation"
            ).rows == [(2,)]
        finally:
            db.close()
    finally:
        server.destroy()


def test_md5_auth_connects() -> None:
    """md5 password auth (legacy deployments) over the unix socket."""
    server = EmbeddedPostgres(
        auth="md5", password="legacy"
    ).start()
    try:
        client = server.client()
        try:
            assert client.query("SELECT 1 AS one").rows == [(1,)]
        finally:
            client.close()
        with pytest.raises((PGWireError, ConnectionError)):
            PGWireClient(server.sock_dir, server.port, password="nope")
    finally:
        server.destroy()


def test_tls_scram_full_lifecycle(spark: SparkSession) -> None:
    """Production posture — TLS + SCRAM-SHA-256 over TCP: the
    SSLRequest/STARTTLS wrap encrypts every connection (driver, aux,
    executor COPY), verify-ca validates the server cert, and a client
    demanding TLS from a non-TLS server fails loudly."""
    server = EmbeddedPostgres(
        tcp=True,
        ssl=True,
        auth="scram-sha-256",
        password="tls pw",
    ).start()
    try:
        # verify-ca against the server's own cert
        client = PGWireClient(
            host=server.host,
            port=server.port,
            password="tls pw",
            tls_ca=server.cert_path,
        )
        try:
            assert client.query("SELECT ssl FROM pg_stat_ssl "
                                "WHERE pid = pg_backend_pid()").rows == [
                (True,)
            ]
        finally:
            client.close()
        server.createdb("tlsdb")
        db = PostgresConnector(
            spark,
            host=server.host,
            port=server.port,
            database="tlsdb",
            password="tls pw",
            tls=True,
            copy_threshold=0,  # executor COPY connections also TLS
        )
        try:
            db.execute_ddl(STAR_DDL)
            flat = spark.createDataFrame(
                [("FRANCE", "EUROPE"), ("JAPAN", "ASIA")],
                "name string, region string",
            )
            with db:
                db.load(flat)
            assert db.client.query(
                "SELECT count(*) FROM dim_nation"
            ).rows == [(2,)]
            # every current backend of this db is SSL-wrapped
            rows = db.client.query(
                "SELECT bool_and(s.ssl) FROM pg_stat_ssl s"
                " JOIN pg_stat_activity a USING (pid)"
                " WHERE a.datname = 'tlsdb'"
            ).rows
            assert rows == [(True,)]
        finally:
            db.close()
    finally:
        server.destroy()


def test_tls_refused_by_plain_server() -> None:
    """tls=True against a server without ssl=on errors clearly instead
    of silently downgrading to cleartext."""
    plain_tcp = EmbeddedPostgres(tcp=True).start()
    try:
        with pytest.raises(ConnectionError, match="refused TLS"):
            PGWireClient(
                host=plain_tcp.host, port=plain_tcp.port, tls=True
            )
    finally:
        plain_tcp.destroy()


def test_driver_insert_path_never_reads_the_target(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The small-payload driver path must move only the payload
    over the lifecycle connection: its idempotency filter runs
    server-side (typed EXCEPT — the old pre-filter SELECT
    DISTINCTed the whole target through the driver first), and the
    post-insert verification scan routes through the DISTRIBUTED read
    above read_copy_bytes — so a standalone incremental insert into a
    large table is driver-bounded end to end."""
    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        read_copy_bytes=64 << 10,  # the 20k-row table counts as big
    )
    try:
        db.execute_ddl("CREATE TABLE big_dim (k bigint, v text)")
        db.client.execute(
            "INSERT INTO big_dim SELECT g, 'v' || g"
            " FROM generate_series(1, 20000) g"
        )
        trickle = spark.createDataFrame(
            [(20001, "new"), (1, "v1")], "k long, v string"
        )
        before = db.client.data_rows
        db.insert(trickle, table="big_dim", _known_count=2)
        assert db.client.data_rows - before < 10
        (n,) = db.client.query("SELECT count(*) FROM big_dim").rows[0]
        assert n == 20001  # (1,'v1') already present: filtered server-side
        db.insert(trickle, table="big_dim", _known_count=2)  # reload: no-op
        (n2,) = db.client.query("SELECT count(*) FROM big_dim").rows[0]
        assert n2 == 20001
    finally:
        db.close()


def test_value_equal_render_distinct_rows_filtered(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The idempotency filter must use SQL VALUE equality, not rendered
    text: numeric 1.50 equals the stored 1.5 and float -0.0 equals 0.0
    even though their texts differ — reloading them through EITHER
    write path must not grow a constraint-less table (a rendered-hash
    filter treats them as new rows)."""
    server, name = pg_database
    for label, threshold in (("driver", 10_000), ("copy", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            db.execute_ddl(
                f"CREATE TABLE rv_{label} (v numeric, f double precision)"
            )
            db.client.execute(
                f"INSERT INTO rv_{label} VALUES (1.5, 0.0)"
            )
            reload_frame = spark.sql(
                "SELECT CAST(1.50 AS DECIMAL(10,2)) AS v,"
                " CAST(-0.0 AS DOUBLE) AS f"
            )
            db.insert(reload_frame, table=f"rv_{label}", _known_count=1)
            (n,) = db.client.query(
                f"SELECT count(*) FROM rv_{label}"
            ).rows[0]
            assert n == 1, (label, n)
        finally:
            db.close()


def test_driver_path_sends_copy_text_not_values(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    monkeypatch: pytest.MonkeyPatch,
) -> None:
    """A payload under ``copy_threshold`` lands over the driver
    connection as COPY text (the encoding the executors send), never
    as rendered ``INSERT ... VALUES`` literals; re-loading it stays a
    no-op."""
    db = _connector(spark, pg_database)
    sent: list[tuple[str, str]] = []

    def recording(kind, orig):  # noqa: ANN001, ANN202
        def call(sql, *args):  # noqa: ANN001, ANN202
            sent.append((kind, sql))
            return orig(sql, *args)

        return call

    for kind in ("execute", "query", "copy_in"):
        monkeypatch.setattr(
            db.client, kind, recording(kind, getattr(db.client, kind))
        )
    try:
        db.execute_ddl("CREATE TABLE dv (k text, v numeric, at date)")
        frame = spark.createDataFrame(
            [
                ("a", Decimal("1.50"), datetime.date(2020, 1, 2)),
                ("b\tc", None, None),
            ],
            "k string, v decimal(10,2), at date",
        )
        db.insert(frame, table="dv", _known_count=2)
        db.insert(frame, table="dv", _known_count=2)
        (n,) = db.client.query("SELECT count(*) FROM dv").rows[0]
        assert n == 2
    finally:
        db.close()
    copies = [sql for kind, sql in sent if kind == "copy_in"]
    assert len(copies) == 2
    assert all('"__al_values"' in sql for sql in copies)
    assert not [
        sql for kind, sql in sent if kind != "copy_in" and "VALUES" in sql
    ]


def test_driver_insert_into_exotic_column_types(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The driver-path filter must cast through the target's declared
    types: bare string literals resolve to text, and EXCEPT (unlike
    INSERT) refuses to match text against uuid/enum/inet columns.
    Idempotency must hold for them too."""
    db = _connector(spark, pg_database)
    try:
        db.client.execute("CREATE TYPE mood AS ENUM ('happy', 'sad')")
        db.execute_ddl(
            "CREATE TABLE exotic (u uuid, m mood, ip inet)"
        )
        frame = spark.createDataFrame(
            [
                ("550e8400-e29b-41d4-a716-446655440000", "happy", "10.0.0.1"),
                ("6fa459ea-ee8a-3ca4-894e-db77e160355e", "sad", "::1"),
            ],
            "u string, m string, ip string",
        )
        db.insert(frame, table="exotic", _known_count=2)
        (n,) = db.client.query("SELECT count(*) FROM exotic").rows[0]
        assert n == 2
        db.insert(frame, table="exotic", _known_count=2)  # reload: no-op
        (n2,) = db.client.query("SELECT count(*) FROM exotic").rows[0]
        assert n2 == 2
    finally:
        db.close()


def test_overlong_varchar_raises_not_truncates(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A value too long for varchar(n) must raise PostgreSQL's own
    'value too long' error through BOTH write paths — never silently
    truncate (an explicit ::varchar(n) cast would)."""
    server, name = pg_database
    for label, threshold in (("driver", 10_000), ("copy", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            db.execute_ddl(f"CREATE TABLE vc_{label} (v varchar(5))")
            frame = spark.createDataFrame([("abcdefgh",)], "v string")
            with pytest.raises(Exception, match="too long|SparkException"):
                db.insert(frame, table=f"vc_{label}", _known_count=1)
            (n,) = db.client.query(
                f"SELECT count(*) FROM vc_{label}"
            ).rows[0]
            assert n == 0  # nothing truncated-and-inserted
        finally:
            db.close()


def test_covered_unique_skips_except_prefilter(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """When a UNIQUE(NOT NULL) / PK constraint covers a subset of the
    inserted columns, an exactly-present row necessarily conflicts, so
    the EXCEPT pre-filter's O(target) scan is skipped in BOTH physical
    write paths — the merge source collapses to staging-only DISTINCT —
    while re-loads stay idempotent and same-key-new-payload rows still
    surface through the lifecycle as InsertingDataFailedError."""
    server, name = pg_database
    for label, threshold in (("driver", 10_000), ("copy", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            db.execute_ddl(
                f"CREATE TABLE k_{label} ("
                "  id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,"
                "  nat text UNIQUE NOT NULL, payload int)"
            )
            # the decision itself, both polarities
            assert db._unique_covers(f"k_{label}", ["nat", "payload"])
            assert not db._unique_covers(f"k_{label}", ["payload"])
            src = db._merge_source(
                f"k_{label}", "stg", '"nat", "payload"', ["nat", "payload"]
            )
            assert "EXCEPT" not in src and "DISTINCT" in src
            frame = spark.createDataFrame(
                [("a", 1), ("b", 2)], "nat string, payload long"
            )
            db.insert(frame, table=f"k_{label}", _known_count=2)
            db.insert(frame, table=f"k_{label}", _known_count=2)
            (n,) = db.client.query(
                f"SELECT count(*) FROM k_{label}"
            ).rows[0]
            assert n == 2  # idempotent without the EXCEPT layer
            # same key, new payload: constraint arbitration still ends
            # in the lifecycle's failure, not a silent drop
            clash = spark.createDataFrame(
                [("a", 99)], "nat string, payload long"
            )
            with pytest.raises(InsertingDataFailedError):
                db.insert(clash, table=f"k_{label}", _known_count=1)
        finally:
            db.close()


def test_nullable_unique_keeps_except_prefilter(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A NULLABLE unique column must NOT trigger the skip: PostgreSQL
    treats NULL keys as distinct, so ON CONFLICT alone cannot keep
    NULL-key re-loads idempotent — the EXCEPT layer is load-bearing.
    A NULLS NOT DISTINCT constraint (PG 15+) restores the guarantee."""
    server, name = pg_database
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            "CREATE TABLE nu (nat text UNIQUE, payload int);"
            "CREATE TABLE nnd (nat text UNIQUE NULLS NOT DISTINCT,"
            "                  payload int)"
        )
        assert not db._unique_covers("nu", ["nat", "payload"])
        assert "EXCEPT" in db._merge_source(
            "nu", "stg", '"nat", "payload"', ["nat", "payload"]
        )
        assert db._unique_covers("nnd", ["nat", "payload"])
        # and the behavior the EXCEPT protects: NULL-key re-load
        frame = spark.createDataFrame(
            [(None, 7)], "nat string, payload long"
        )
        db.insert(frame, table="nu", _known_count=1)
        db.insert(frame, table="nu", _known_count=1)
        (n,) = db.client.query("SELECT count(*) FROM nu").rows[0]
        assert n == 1
    finally:
        db.close()


def test_checksum_compare_degrades_when_executors_cannot_dial(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    caplog,  # noqa: ANN001
) -> None:
    """A _stage_frame failure (aux CREATE / executor COPY dial-in) must
    degrade the checksum fast path to the driver-side compare — not
    hard-fail the load — including mid-transaction: staging runs on
    aux/executor connections and never touches the driver bracket
    (advice round 10: a sock_dir= deployment where the driver reaches
    the server but executors cannot previously loaded small dimensions
    fine, then regressed to a hard failure when the r9 fast compare
    landed)."""
    import logging as _logging

    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        copy_threshold=10_000,  # writes stay on the driver COPY path
    )
    try:
        db.execute_ddl(STAR_DDL)
        # corrupt the EXECUTOR/AUX connect parameters only: the already
        # connected driver client keeps working, _aux_client cannot dial
        db._connect = {**db._connect, "port": db._connect["port"] + 1}
        flat = spark.createDataFrame(
            [("FRANCE", "EUROPE"), ("JAPAN", "ASIA")],
            "name string, region string",
        )
        with caplog.at_level(
            _logging.WARNING, logger="sql_autoloader_spark"
        ):
            with db:  # mid-transaction: the motivating deployment
                db.load(flat)
        assert any(
            "could not stage" in r.message for r in caplog.records
        )
        assert db._read_table("dim_nation").count() == 2
        assert db._read_table("dim_region").count() == 2
        with db:
            db.load(flat)  # still idempotent through the fallback
        assert db._read_table("dim_nation").count() == 2
    finally:
        db.close()


def test_distributed_read_is_snapshot_consistent(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The ctid-ranged distributed read imports ONE exported MVCC
    snapshot in every partition (advice round 10): a concurrent UPDATE
    after frame construction must be invisible — no row doubled (old
    tuple in an early block + rewritten tuple in the unbounded tail
    range), none lost, and a SECOND action on the same frame must read
    the same point-in-time state instead of silently re-reading the
    table's later state."""
    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        read_copy_bytes=64 << 10,
    )
    try:
        db.execute_ddl("CREATE TABLE snapped (k bigint, v text)")
        db.client.execute(
            "INSERT INTO snapped SELECT g, repeat('x', 30)"
            " FROM generate_series(1, 50000) g"
        )
        frame = db._read_table("snapped")
        assert db._snapshot_holders  # export actually happened
        # committed concurrent writer AFTER frame construction
        db.client.execute("UPDATE snapped SET v = 'changed'")
        assert frame.count() == 50000  # no doubled/lost rows
        assert frame.filter("v = 'changed'").count() == 0
        # re-execution reads the SAME snapshot, not the later state
        assert frame.filter("v = 'changed'").count() == 0
        # a FRESH read sees the new state
        fresh = db._read_table("snapped")
        assert fresh.filter("v = 'changed'").count() == 50000
    finally:
        db.close()
    assert not db._snapshot_holders  # close() released the exports


def test_scram_non_ascii_password_saslprep() -> None:
    """A non-ASCII password authenticates against a spec-compliant
    server: initdb stores the SCRAM secret after PostgreSQL's own
    pg_saslprep, so the client must apply RFC 4013 too — the NFKC case
    (ROMAN NUMERAL NINE -> 'IX') and the soft hyphen (mapped away)
    both diverge without it."""
    pw = "pä­ssⅨ"  # soft hyphen + ROMAN NUMERAL NINE
    server = EmbeddedPostgres(
        tcp=True, auth="scram-sha-256", password=pw
    ).start()
    try:
        client = PGWireClient(
            host=server.host, port=server.port, password=pw
        )
        try:
            assert client.query("SELECT 1 AS one").rows == [(1,)]
        finally:
            client.close()
        # the PREPPED form authenticates too (same stored secret)
        client = PGWireClient(
            host=server.host, port=server.port, password="pässIX"
        )
        try:
            assert client.query("SELECT 1 AS one").rows == [(1,)]
        finally:
            client.close()
        with pytest.raises((PGWireError, ConnectionError)):
            PGWireClient(
                host=server.host, port=server.port, password="päss"
            )
    finally:
        server.destroy()


def test_tls_verify_full_hostname() -> None:
    """sslmode=verify-full: with tls_verify_hostname the server cert's
    SAN must match the host the client dialed — 'localhost' (in the
    SAN) connects, '127.0.0.1' (deliberately NOT in the SAN) is
    rejected during the handshake, and the option without a CA is a
    usage error."""
    import ssl

    server = EmbeddedPostgres(tcp=True, ssl=True).start()
    try:
        client = PGWireClient(
            host="localhost",
            port=server.port,
            tls_ca=server.cert_path,
            tls_verify_hostname=True,
        )
        try:
            assert client.query(
                "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"
            ).rows == [(True,)]
        finally:
            client.close()
        with pytest.raises(ssl.SSLCertVerificationError):
            PGWireClient(
                host="127.0.0.1",
                port=server.port,
                tls_ca=server.cert_path,
                tls_verify_hostname=True,
            )
        with pytest.raises(ValueError, match="verify-full"):
            PGWireClient(
                host="127.0.0.1",
                port=server.port,
                tls_verify_hostname=True,
            )
    finally:
        server.destroy()


def test_scram_unpreppable_password_falls_back_raw() -> None:
    """libpq parity (review round 10): when SASLprep cannot process the
    password (emoji are 'unassigned' in Python's Unicode-3.2 stringprep
    tables), BOTH PostgreSQL (pg_saslprep) and libpq fall back to the
    raw password — so must this client, or a password the server
    accepted at initdb time could never authenticate here."""
    pw = "s3cret \U0001F600 pw"
    server = EmbeddedPostgres(
        tcp=True, auth="scram-sha-256", password=pw
    ).start()
    try:
        client = PGWireClient(
            host=server.host, port=server.port, password=pw
        )
        try:
            assert client.query("SELECT 1 AS one").rows == [(1,)]
        finally:
            client.close()
        with pytest.raises((PGWireError, ConnectionError)):
            PGWireClient(
                host=server.host, port=server.port, password="wrong"
            )
    finally:
        server.destroy()


def test_snapshot_holders_are_bounded(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Distributed reads must not accumulate snapshot-export
    connections without bound (review round 10): past the
    ``snapshot_exports=`` cap the OLDEST export is released — its
    frame then fails loudly when (re-)executed — while newer frames
    keep their snapshot."""
    server, name = pg_database
    db = PostgresConnector(
        spark,
        sock_dir=server.sock_dir,
        port=server.port,
        database=name,
        read_copy_bytes=64 << 10,
        snapshot_exports=2,
    )
    try:
        db.execute_ddl("CREATE TABLE capped (k bigint, v text)")
        db.client.execute(
            "INSERT INTO capped SELECT g, repeat('x', 30)"
            " FROM generate_series(1, 50000) g"
        )
        frames = [db._read_table("capped") for _ in range(3)]
        assert len(db._snapshot_holders) == 2
        assert frames[-1].count() == 50000  # newest snapshot alive
        with pytest.raises(Exception, match="snapshot"):
            frames[0].count()  # oldest export released: loud failure
    finally:
        db.close()


def test_dropped_constraint_restores_except_layer(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """The EXCEPT-skip decision is probed fresh per write (review
    round 10): a UNIQUE constraint dropped by ANOTHER session between
    loads must flip the next write back to the EXCEPT pre-filter, so
    re-loading identical data still cannot duplicate a now
    constraint-less table."""
    server, name = pg_database
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            "CREATE TABLE dropc (nat text UNIQUE NOT NULL, payload int)"
        )
        frame = spark.createDataFrame(
            [("a", 1), ("b", 2)], "nat string, payload long"
        )
        assert db._unique_covers("dropc", ["nat", "payload"])
        db.insert(frame, table="dropc", _known_count=2)
        # out-of-band DDL on a SEPARATE connection; this connector's
        # schema/introspection is never told
        other = server.client(database=name)
        try:
            other.execute(
                "ALTER TABLE dropc DROP CONSTRAINT dropc_nat_key"
            )
        finally:
            other.close()
        assert not db._unique_covers("dropc", ["nat", "payload"])
        db.insert(frame, table="dropc", _known_count=2)  # re-load
        (n,) = db.client.query("SELECT count(*) FROM dropc").rows[0]
        assert n == 2  # EXCEPT layer is back: no duplicates
    finally:
        db.close()


def test_unique_covers_pre15_version_gate(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """On a pre-15 server the NULLS NOT DISTINCT column doesn't exist;
    the probe must branch on server_version (review round 10: a failed
    probe statement would abort an open transaction — try/except
    fallback on ONE connection cannot work mid-``with db:``)."""
    server, name = pg_database
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            "CREATE TABLE vgate (nat text UNIQUE NOT NULL, payload int)"
        )
        db.client.parameters["server_version"] = "14.9"
        # probe works INSIDE a transaction (no aborted-txn fallback)
        with db:
            assert db._unique_covers("vgate", ["nat", "payload"])
            # beta/devel version strings parse by leading digits
            db.client.parameters["server_version"] = "16beta1"
            assert db._unique_covers("vgate", ["nat", "payload"])
            db.client.parameters["server_version"] = "15.18"
            db.insert(
                spark.createDataFrame(
                    [("a", 1)], "nat string, payload long"
                ),
                table="vgate",
                _known_count=1,
            )
        (n,) = db.client.query("SELECT count(*) FROM vgate").rows[0]
        assert n == 1
    finally:
        db.close()


def test_except_prefilter_auto_blocks_narrow_identity_gap(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """Round 12 (closes the r11 identity-gap advice): an all-duplicate
    re-load into a table with a NARROW (int4) identity column must
    consume ZERO sequence values — the ``"auto"`` policy retains the
    EXCEPT pre-filter even though the covering UNIQUE constraint would
    otherwise allow skipping it (ON CONFLICT evaluates identity
    defaults before arbitration, so a skipped re-insert burns one
    sequence value per row; hourly re-loads would exhaust 2^31 in
    weeks).  Checked on BOTH physical write paths (driver COPY and
    distributed executor COPY)."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE gap_narrow (
                id integer GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                nname text UNIQUE NOT NULL);
            """
        )
        assert db._narrow_identity("gap_narrow")
        flat = spark.createDataFrame(
            [(f"n{i}",) for i in range(40)], "nname string"
        )
        with db:
            db.load(flat)
        seq = "gap_narrow_id_seq"
        last = lambda: db.client.query(  # noqa: E731
            f"SELECT pg_sequence_last_value('{seq}'::regclass)"
        ).rows[0][0]
        before = last()
        assert before == 40
        with db:  # driver COPY path (payload under copy_threshold)
            db.load(flat)
        assert last() == before
        server, name = pg_database
        copy_db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=0,  # force the distributed COPY path
        )
        try:
            with copy_db:
                copy_db.load(flat)
            assert last() == before
        finally:
            copy_db.close()
    finally:
        db.close()


def test_wide_identity_keeps_except_skip(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """On a bigint identity the merge keeps the documented skip (gaps
    are harmless at 2^63): an all-duplicate re-load of 30 rows into the
    covered table consumes 30 sequence values."""
    db = _connector(spark, pg_database)
    try:
        db.execute_ddl(
            """
            CREATE TABLE gap_wide (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                wname text UNIQUE NOT NULL);
            """
        )
        assert not db._narrow_identity("gap_wide")
        flat = spark.createDataFrame(
            [(f"w{i}",) for i in range(30)], "wname string"
        )
        with db:
            db.load(flat)
        seq = "gap_wide_id_seq"
        last = lambda: db.client.query(  # noqa: E731
            f"SELECT pg_sequence_last_value('{seq}'::regclass)"
        ).rows[0][0]
        base = last()
        with db:  # the skip: ON CONFLICT alone, the gap grows
            db.load(flat)
        assert last() == base + 30
        (n,) = db.client.query("SELECT count(*) FROM gap_wide").rows[0]
        assert n == 30
    finally:
        db.close()


def _recorded(db: PostgresConnector, monkeypatch: pytest.MonkeyPatch) -> list:
    """Record every statement *db* sends on its driver connection as
    ``(kind, sql)`` (``execute`` sends through ``query``); executor and
    aux connections are not seen."""
    sent: list[tuple[str, str]] = []
    for kind in ("query", "copy_in"):
        orig = getattr(db.client, kind)

        def call(sql, *args, _kind=kind, _orig=orig):  # noqa: ANN001, ANN202
            sent.append((_kind, sql))
            return _orig(sql, *args)

        monkeypatch.setattr(db.client, kind, call)
    return sent


def test_both_landings_send_one_merge_then_drop(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    monkeypatch: pytest.MonkeyPatch,
) -> None:
    """Each insert, on either landing, sends exactly one ``INSERT INTO
    "<t>" … ON CONFLICT DO NOTHING`` followed directly by one ``DROP
    TABLE <landing>``, and the two landings' merge statements differ
    only by the landing table's name: the merge text is built once."""
    server, name = pg_database
    merges: dict[str, tuple[str, str]] = {}
    for label, threshold in (("driver", 10**9), ("executor", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            if label == "driver":
                db.execute_ddl("CREATE TABLE st (k text, v bigint)")
            sent = _recorded(db, monkeypatch)
            frame = spark.createDataFrame(
                [(f"{label}1", 1), (f"{label}2", None)], "k string, v long"
            )
            db.insert(frame, table="st", _known_count=2)
            staging_left = set(db._staging)
        finally:
            db.close()
        inserts = [
            i for i, (_, sql) in enumerate(sent) if sql.startswith("INSERT")
        ]
        assert len(inserts) == 1, sent
        (at,) = inserts
        insert = sent[at][1]
        assert insert.startswith('INSERT INTO "st" ("k", "v") ')
        assert insert.endswith(" ON CONFLICT DO NOTHING")
        kind, drop = sent[at + 1]
        assert kind == "query" and drop.startswith("DROP TABLE ")
        landing = drop.removeprefix("DROP TABLE ")
        assert landing in insert
        assert not [sql for _, sql in sent if sql == drop][1:]
        merges[label] = (landing, insert.replace(landing, "<landing>"))
        if label == "driver":
            assert landing == 'pg_temp."__al_values"'
            assert [k for k, _ in sent[:3]] == ["query", "query", "copy_in"]
            assert sent[0][1] == f"DROP TABLE IF EXISTS {landing}"
            assert sent[2][1].startswith(f"COPY {landing} ")
        else:
            assert landing.startswith('"_al_staging"."stage_st_')
            assert not [k for k, _ in sent if k == "copy_in"]
        assert not staging_left  # discarded after the drop
    assert merges["driver"][1] == merges["executor"][1]
    assert merges["driver"][0] != merges["executor"][0]


def test_pg_write_decision_record(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    caplog: pytest.LogCaptureFixture,
) -> None:
    """Each write emits one INFO record on the ``sql_autoloader_spark``
    logger naming its landing (``driver``/``executor``) and merge source
    (``except``/``distinct``)."""
    import logging as _logging

    server, name = pg_database
    seen = []
    for label, threshold in (("driver", 10**9), ("executor", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            db.execute_ddl(
                f"CREATE TABLE free_{label} (k text, v bigint);"
                f"CREATE TABLE keyed_{label} ("
                "  id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,"
                "  k text UNIQUE NOT NULL, v bigint)"
            )
            frame = spark.createDataFrame([("a", 1)], "k string, v long")
            for table in (f"free_{label}", f"keyed_{label}"):
                caplog.clear()
                with caplog.at_level(
                    _logging.INFO, logger="sql_autoloader_spark"
                ):
                    db.insert(frame, table=table, _known_count=1)
                recs = [
                    r
                    for r in caplog.records
                    if getattr(r, "op", None) == "pg_write"
                ]
                assert len(recs) == 1
                seen.append((recs[0].table, recs[0].decision, recs[0].merge))
                assert recs[0].levelno == _logging.INFO
        finally:
            db.close()
    assert seen == [
        ("free_driver", "driver", "except"),
        ("keyed_driver", "driver", "distinct"),
        ("free_executor", "executor", "except"),
        ("keyed_executor", "executor", "distinct"),
    ]


def test_whole_fractional_values_land_in_integer_columns(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    caplog: pytest.LogCaptureFixture,
) -> None:
    """A double or decimal column holding whole numbers loads into
    integer columns on both landings (``3.0`` → 3, ``Decimal("2.0")``
    → 2) and the load's server-side compare stages it without falling
    back, while ``1.5`` is still refused by the integer input function
    (``22P02``) with nothing stored; float and numeric targets keep
    the fraction."""
    server, name = pg_database
    for label, threshold in (("driver", 10**9), ("executor", 0)):
        db = PostgresConnector(
            spark,
            sock_dir=server.sock_dir,
            port=server.port,
            database=name,
            copy_threshold=threshold,
        )
        try:
            db.execute_ddl(
                "DROP TABLE IF EXISTS wi;"
                "CREATE TABLE wi (i integer, b bigint,"
                " s smallint, f double precision, n numeric)"
            )
            frame = spark.createDataFrame(
                [
                    (3.0, Decimal("2.0"), -0.0, 3.0, Decimal("2.0")),
                    (None, None, None, 0.5, Decimal("0.5")),
                ],
                "i double, b decimal(10,1), s double, f double,"
                " n decimal(10,1)",
            )
            caplog.clear()
            with db:
                db.load(frame)
            assert not [r for r in caplog.records if "falling back" in r.message]
            rows = db.client.query(
                "SELECT i, b, s, f, n FROM wi ORDER BY f"
            ).rows
            assert rows == [
                (None, None, None, 0.5, Decimal("0.5")),
                (3, 2, 0, 3.0, Decimal("2.0")),
            ]
            for bad in (
                spark.createDataFrame([(1.5,)], "i double"),
                spark.createDataFrame([(Decimal("2.5"),)], "b decimal(10,1)"),
            ):
                with pytest.raises(Exception, match="22P02"):
                    db.insert(bad, table="wi", _known_count=1)
            (n,) = db.client.query("SELECT count(*) FROM wi").rows[0]
            assert n == 2  # the refused rows stored nothing
        finally:
            db.close()


def test_start_retries_when_auto_port_bind_race_lost() -> None:
    """free_port() TOCTOU (round-12 advice): when another process
    claims the auto-assigned port between release and the postmaster's
    bind, start() must retry with a fresh port instead of failing the
    handshake.  Simulated by occupying the chosen port before start."""
    import socket

    blocker = socket.socket()
    blocker.bind(("127.0.0.1", 0))
    blocker.listen(1)
    taken = blocker.getsockname()[1]
    server = EmbeddedPostgres(tcp=True)
    server.port = taken  # lose the race deterministically
    try:
        server.start()
        assert server.port != taken  # a fresh port was claimed
        client = server.client()
        try:
            assert client.query("SELECT 41 + 1").rows[0][0] == 42
        finally:
            client.close()
    finally:
        server.destroy()
        blocker.close()
