"""Library code leaves the caller's session conf alone.

The one sanctioned write is ``SparkConnector._lazy_pin``'s planning-only
AQE/shuffle-partitions toggle.  Everything else a sink needs from the
session (the Postgres sink's UTC wall clock above all) is stated in its
own expressions, so another thread sharing the session never sees a
borrowed setting.
"""

from __future__ import annotations

import ast
import datetime
import threading
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
from sql_autoloader_spark.connectors.postgres import PostgresConnector

PACKAGE = Path(__file__).resolve().parent.parent / "sql_autoloader_spark"
TZ = "spark.sql.session.timeZone"

#: the only function allowed to write session conf (qualified name)
ALLOWED = {"SparkConnector._lazy_pin"}


class _ConfWrites(ast.NodeVisitor):
    """``RuntimeConfig.set``/``unset`` calls, by enclosing function: a
    call on ``<expr>.conf`` directly, or on a local name bound to one."""

    def __init__(self) -> None:
        self.scope: list[str] = []
        self.conf_names: list[set[str]] = [set()]
        self.found: list[tuple[str, int]] = []

    def _visit_scope(self, node: ast.AST, name: str) -> None:
        self.scope.append(name)
        self.conf_names.append(set())
        self.generic_visit(node)
        self.conf_names.pop()
        self.scope.pop()

    def visit_ClassDef(self, node: ast.ClassDef) -> None:
        self._visit_scope(node, node.name)

    def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
        self._visit_scope(node, node.name)

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Assign(self, node: ast.Assign) -> None:
        if isinstance(node.value, ast.Attribute) and node.value.attr == "conf":
            for target in node.targets:
                if isinstance(target, ast.Name):
                    self.conf_names[-1].add(target.id)
        self.generic_visit(node)

    def visit_Call(self, node: ast.Call) -> None:
        func = node.func
        if isinstance(func, ast.Attribute) and func.attr in ("set", "unset"):
            recv = func.value
            if (isinstance(recv, ast.Attribute) and recv.attr == "conf") or (
                isinstance(recv, ast.Name) and recv.id in self.conf_names[-1]
            ):
                self.found.append((".".join(self.scope), node.lineno))
        self.generic_visit(node)


def _conf_writes_in_package() -> dict[str, list[str]]:
    by_fn: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        visitor = _ConfWrites()
        visitor.visit(ast.parse(path.read_text(), filename=str(path)))
        rel = path.relative_to(PACKAGE.parent)
        for fn, line in visitor.found:
            by_fn.setdefault(fn, []).append(f"{rel}:{line}")
    return by_fn


def test_no_session_conf_writes_outside_lazy_pin() -> None:
    by_fn = _conf_writes_in_package()
    stray = {fn: sites for fn, sites in by_fn.items() if fn not in ALLOWED}
    assert stray == {}
    # the detector sees the sanctioned toggle (set AQE, set partitions,
    # restore), so an empty result above is not a blind spot
    assert len(by_fn.get("SparkConnector._lazy_pin", [])) == 3, by_fn


pg_only = pytest.mark.skipif(
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
    name = f"sc{_db_counter}"
    pg.createdb(name)
    return pg, name


EVENT_DDL = """
    CREATE TABLE ev_kind (
        id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        kind text UNIQUE
    );
    CREATE TABLE ev (
        kind_id bigint REFERENCES ev_kind (id),
        at_tz timestamptz,
        at_ntz timestamp
    );
"""

#: 05:30 and 06:30 UTC on 2021-11-07 are both 01:30 in New York (the
#: fall-back hour): a session-zone cast of the stored UTC wall clocks
#: would shift or merge them
_UTC = datetime.timezone.utc
_MOMENTS = [
    datetime.datetime(2021, 11, 7, 5, 30, tzinfo=_UTC),
    datetime.datetime(2021, 11, 7, 6, 30, tzinfo=_UTC),
    datetime.datetime(2024, 3, 10, 6, 30, 1, 250000, tzinfo=_UTC),
]


def _events(spark: SparkSession):  # noqa: ANN202
    return spark.createDataFrame(
        [(f"k{i % 2}", m, m) for i, m in enumerate(_MOMENTS)],
        "kind string, at_tz timestamp, at_ntz timestamp",
    )


@pg_only
def test_postgres_load_keeps_session_timezone_for_other_threads(
    spark: SparkSession, pg_database: tuple[EmbeddedPostgres, str]
) -> None:
    """A Postgres ``load`` in a non-UTC session, with a second thread
    sampling the session timezone and planning a timezone-dependent
    query throughout: the sampler must only ever see the session's own
    zone, and the load must still store and verify the exact instants."""
    server, name = pg_database
    ny = spark.newSession()
    ny.conf.set(TZ, "America/New_York")
    # driver-only connector (no executor dial-in): reads, INSERTs and
    # the compare all run through the Spark-side lifecycle
    db = PostgresConnector(ny, client=server.client(database=name))
    errors: list[BaseException] = []
    zones: list[str] = []
    hours: list[int] = []
    try:
        db.execute_ddl(EVENT_DDL)
        flat = _events(ny)

        def run_load() -> None:
            try:
                with db:
                    db.load(flat)
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)

        loader = threading.Thread(target=run_load)
        loader.start()
        # the hour of the epoch in the session zone: 19 in New York, 0
        # in UTC; analyzed anew, with the zone of the moment, per sample
        epoch_hour = F.hour(F.timestamp_seconds(F.lit(0)))
        while loader.is_alive() or not zones:
            zones.append(ny.conf.get(TZ))
            hours.append(ny.range(1).select(epoch_hour).first()[0])
        loader.join()
        if errors:
            raise errors[0]
        rows = db.client.query(
            "SELECT at_tz::text, at_ntz::text FROM ev ORDER BY at_tz"
        ).rows
    finally:
        db.close()
    assert set(zones) == {"America/New_York"}, sorted(set(zones))
    assert set(hours) == {19}, sorted(set(hours))
    assert rows == [
        ("2021-11-07 05:30:00+00", "2021-11-07 05:30:00"),
        ("2021-11-07 06:30:00+00", "2021-11-07 06:30:00"),
        ("2024-03-10 06:30:01.25+00", "2024-03-10 06:30:01.25"),
    ]


@pg_only
def test_postgres_insert_and_compare_write_no_session_conf(
    spark: SparkSession,
    pg_database: tuple[EmbeddedPostgres, str],
    conf_writes: list,
) -> None:
    server, name = pg_database
    db = PostgresConnector(spark, client=server.client(database=name))
    try:
        db.execute_ddl(
            "CREATE TABLE ev_flat (kind text, at_tz timestamptz,"
            " at_ntz timestamp)"
        )
        flat = _events(spark)
        conf_writes.clear()
        db.insert(flat, table="ev_flat")
        db.compare(flat)
    finally:
        db.close()
    assert conf_writes == []
