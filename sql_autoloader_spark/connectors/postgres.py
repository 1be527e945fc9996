"""Driver-side PostgreSQL sink over the pure-Python wire client.

Reference parity: ``PostgresConnector``
(/root/reference/sql_autoloader/postgres/postgres_connector.py:160-254)
— the psycopg-backed connector whose own test suite is skipped upstream
for lack of a live server.  Here the full loader lifecycle executes
against a REAL PostgreSQL server (the container ships the server
binaries; :class:`~sql_autoloader_spark.connectors.pgwire.EmbeddedPostgres`
manages one per test/query run), so every semantic the reference's
Postgres path promises runs for real:

- schema introspection from ``information_schema`` via the SAME dialect
  SQL the JDBC path golden-pins (jdbc.PostgresDialect — reference
  postgres_connector.py:67-157), now executed live over the wire plus a
  UNIQUE-constraint introspection the reference leaves to the database;
- idempotent inserts via ``INSERT ... ON CONFLICT DO NOTHING`` against
  real constraints (reference postgres_connector.py:13-28) — a
  uniqueness conflict keeps rows out at the database layer and surfaces
  as :class:`InsertingDataFailedError` through the shared lifecycle;
- surrogate keys minted by the database's own ``GENERATED ... AS
  IDENTITY`` / ``bigserial`` sequences and read back by the key
  retrieval scan — no engine-side key generation;
- generated compare queries executed by PostgreSQL itself (double-quote
  identifier dialect);
- genuine transaction brackets: the ``with`` block maps to one
  ``BEGIN``/``COMMIT``/``ROLLBACK`` on the single wire connection
  (reference postgres_connector.py:176-199), so a failed load leaves
  the database at its pre-block state.

Positioning at scale: the driver's single connection never carries
table-sized traffic in either direction.

- **Writes**: one path, land → merge → drop.  The payload lands as
  COPY text in a table typed like the target: small known payloads
  (dimension tables) over the driver connection into a session-temp
  table; anything larger — or of unknown size, the scale-safe
  default — through executors that ``COPY`` DataFrame partitions
  concurrently into an unlogged staging table (N parallel streams).
  One ``INSERT … ON CONFLICT DO NOTHING`` then merges the landing
  into the target, with BOTH idempotency layers server-side (see
  :meth:`PostgresConnector._merge_source`), so the target is never
  read back through the driver; a ``DROP`` of the landing ends the
  write.
- **Validation**: the generated compare's happy path is an in-database
  checksum aggregate — eleven numbers cross the wire.
- **Reads**: tables above ``read_copy_bytes`` stream out of the server
  through executor-side ctid-ranged ``COPY ... TO STDOUT``.

On a real cluster executors dial the warehouse over TCP (``host=``),
with md5/SCRAM-SHA-256 auth and TLS when the deployment requires them.
"""

from __future__ import annotations

import itertools
import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from sql_autoloader_spark.connectors.base import BaseConnector
from sql_autoloader_spark.connectors.jdbc import (
    PostgresDialect,
    fetch_schema_with_dialect,
)
from sql_autoloader_spark.connectors.pgwire import (
    PGWireClient,
    PGWireError,
    ResultSet,
    UnstorableTextError,
    copy_text_parse,
    copy_text_row,
    pg_literal,
)
from sql_autoloader_spark.exceptions import TransactionAbortedError
from sql_autoloader_spark.ops import dataframe_ops as ops
from sql_autoloader_spark.schema import ReferenceDict, TableDict

logger = logging.getLogger("sql_autoloader_spark")

#: schema holding per-load staging tables for the distributed COPY
#: path; outside 'public' so introspection (jdbc.PostgresDialect
#: filters table_schema='public') never sees load machinery
_STAGING_SCHEMA = "_al_staging"

#: COPY bytes buffered per CopyData message (executors and driver alike)
_COPY_BUFFER = 1 << 18

#: default cap on concurrently-held snapshot-export connections (one
#: idle read-only REPEATABLE READ transaction each); see the
#: ``snapshot_exports=`` constructor parameter
_MAX_SNAPSHOT_HOLDERS = 8

#: naive timestamp text is interpreted in the connection's TimeZone;
#: every timestamp this connector sends is rendered JVM-side as its UTC
#: wall clock (``_render_timestamps``, in the COPY text of both
#: landings), so pin the interpretation to match on EVERY connection the
#: connector opens.  DateStyle is pinned too: the wire and COPY
#: decoders parse ISO output only, and a server configured with e.g.
#: 'German, DMY' would otherwise break every datetime read.
_TZ_SETUP = "SET TIME ZONE 'UTC'; SET datestyle = ISO"

#: extra setup for auxiliary/executor connections only: these run
#: autocommit statements that take locks on tables the DRIVER connection
#: may hold stronger locks on mid-transaction (e.g. the staging CREATE's
#: AccessShare vs an AccessExclusive from DDL inside an open ``with db:``
#: block) while the driver synchronously waits on them — an untimed lock
#: wait would be a mutual hang, a bounded ``lock_timeout`` turns it into
#: a clear error.  Deliberately NO statement_timeout: these connections
#: carry the fact-scale COPY streams, whose legitimate runtime is
#: unbounded at 100 TB — only lock WAITS are capped.
_AUX_SESSION_SETUP = f"{_TZ_SETUP}; SET lock_timeout = '30s'"

#: int2, int4 and int8 type OIDs: targets whose input function rejects
#: a fractional rendering of a whole value (``_render_whole_numbers``)
_INTEGER_OIDS = frozenset({20, 21, 23})


def _dial(conn: dict) -> PGWireClient:
    """Open one auxiliary/executor connection from the connector's
    ``_connect`` mapping (plain data, so executor tasks can capture
    it) and apply :data:`_AUX_SESSION_SETUP`."""
    client = PGWireClient(**conn)
    try:
        client.execute(_AUX_SESSION_SETUP)
    except BaseException:
        client.close()
        raise
    return client


def _copy_partition_reader(
    conn: dict,
    table: str,
    quoted: str,
    oids: list[int],
    snapshot_id: str | None,
):
    """Build the ``mapPartitions`` task for the distributed COPY read:
    each partition holds one ctid block range and streams it out over
    its own wire connection — the read twin of
    :func:`_copy_partition_writer` (N executors COPYing OUT of the
    server concurrently).  TID range scans (block-addressed) split the
    heap physically, so ranges are balanced regardless of key skew and
    need no index; the LAST range is unbounded above so blocks appended
    after planning are still read.

    *snapshot_id*: a ``pg_export_snapshot()`` export every partition
    imports (``SET TRANSACTION SNAPSHOT``) so ALL ranges — and any
    Spark task retry or re-execution — read ONE MVCC snapshot of the
    table, exactly like a single-connection read would.  If the
    exporting transaction has since closed (connector closed before a
    lazy re-read), the import fails LOUDLY server-side rather than
    silently reading the table's later state."""

    def read(ranges):  # noqa: ANN001 - iterator of (lo, hi|None)
        for lo, hi in ranges:
            cond = f"ctid >= '({lo},0)'"
            if hi is not None:
                cond += f" AND ctid < '({hi},0)'"
            sql = (
                f'COPY (SELECT {quoted} FROM "{table}" WHERE {cond}) '
                "TO STDOUT"
            )
            client = _dial(conn)
            try:
                if snapshot_id is not None:
                    client.execute(
                        "BEGIN ISOLATION LEVEL REPEATABLE READ READ"
                        f" ONLY; SET TRANSACTION SNAPSHOT"
                        f" {pg_literal(snapshot_id)}"
                    )
                for line in client.copy_out(sql):
                    yield copy_text_parse(line, oids)
                if snapshot_id is not None:
                    client.execute("COMMIT")
            finally:
                client.close()

    return read


def _checksum_compare_sql(staging: str, quoted: str, query: str) -> str:
    """The in-database twin of ``ops.fast_set_equal``'s aggregate.

    Each row hashes as ``md5(ROW(cols)::text)`` — ``record_out`` is a
    canonical, injective rendering (NULL and empty string stay distinct,
    floats print shortest-round-trip) shared by both sides.  The two
    64-bit halves of the digest are independent channels; each side
    folds them with BOTH an order-independent sum (as numeric — bigint
    sums overflow) and a bit_xor, so a collision must defeat four
    combiners of a 128-bit digest (~2^-128, the same bound as the Spark
    fast path).  One streaming aggregate, one result row.
    """
    return f"""
        WITH __u AS (
            SELECT 1 AS __side, md5(ROW({quoted})::text) AS __h
              FROM (SELECT DISTINCT {quoted} FROM {staging}) __d
            UNION ALL
            SELECT 0 AS __side, md5(ROW({quoted})::text) AS __h
              FROM ({query}) __b
        ), __hh AS (
            SELECT __side,
                   ('x' || substr(__h, 1, 16))::bit(64)::bigint AS __h1,
                   ('x' || substr(__h, 17, 16))::bit(64)::bigint AS __h2
              FROM __u
        )
        SELECT count(*) FILTER (WHERE __side = 1) AS __n_d,
               count(*) FILTER (WHERE __side = 0) AS __n_b,
               coalesce(sum(__h1::numeric) FILTER (WHERE __side = 1), 0) AS __s1_d,
               coalesce(sum(__h1::numeric) FILTER (WHERE __side = 0), 0) AS __s1_b,
               coalesce(bit_xor(__h1) FILTER (WHERE __side = 1), 0) AS __x1_d,
               coalesce(bit_xor(__h1) FILTER (WHERE __side = 0), 0) AS __x1_b,
               coalesce(sum(__h2::numeric) FILTER (WHERE __side = 1), 0) AS __s2_d,
               coalesce(sum(__h2::numeric) FILTER (WHERE __side = 0), 0) AS __s2_b,
               coalesce(bit_xor(__h2) FILTER (WHERE __side = 1), 0) AS __x2_d,
               coalesce(bit_xor(__h2) FILTER (WHERE __side = 0), 0) AS __x2_b
          FROM __hh
    """


def _close_quietly(client: PGWireClient) -> None:
    """Finalizer-safe close (runs from gc, socket may be dead)."""
    try:
        client.close()
    except Exception:  # noqa: BLE001, S110
        pass


def _copy_chunks(rows, columns: list[str]):  # noqa: ANN001, ANN201
    """COPY text-format lines of *rows* (:func:`copy_text_row`),
    buffered into CopyData-sized chunks — the one payload encoding of
    both landings.  An :class:`UnstorableTextError` is re-raised
    naming the column, so the rejection is actionable."""
    buffer = bytearray()
    try:
        for row in rows:
            buffer += copy_text_row(tuple(row))
            if len(buffer) >= _COPY_BUFFER:
                yield bytes(buffer)
                buffer = bytearray()
    except UnstorableTextError as exc:
        named = (
            f'column "{columns[exc.cell_index]}": {exc}'
            if exc.cell_index is not None and exc.cell_index < len(columns)
            else str(exc)
        )
        raise UnstorableTextError(
            named, cell_index=exc.cell_index, value=exc.value
        ) from None
    if buffer:
        yield bytes(buffer)


def _copy_partition_writer(conn: dict, copy_sql: str, columns: list[str]):
    """Build the ``foreachPartition`` task for the distributed COPY
    path.  Captures only the plain connect mapping (picklable); each
    non-empty partition opens its own wire connection — on a cluster
    that is N executors COPYing into the server concurrently, the
    standard parallel-ingest topology for PostgreSQL."""

    def write(rows) -> None:  # noqa: ANN001 - iterator of Row
        chunks = _copy_chunks(rows, columns)
        first = next(chunks, None)
        if first is None:
            return  # empty partition: never connect
        client = _dial(conn)
        try:
            client.copy_in(copy_sql, itertools.chain([first], chunks))
        finally:
            client.close()

    return write


def _spark_type(oid: int, typmod: int) -> DataType:
    """Spark type for a result column by PostgreSQL type OID (public
    pg_catalog assignments).  Unknown OIDs surface as string and are
    re-cast by ``ops.match_dtypes`` downstream — the same fallback the
    SQLite connector's affinity mapping uses."""
    if oid == 16:
        return BooleanType()
    if oid == 17:
        return BinaryType()
    if oid in (20, 21, 23, 26):
        return LongType()
    if oid in (700, 701):
        return DoubleType()
    if oid == 1082:
        return DateType()
    if oid == 1114:
        return TimestampNTZType()
    if oid == 1184:
        return TimestampType()
    if oid == 1700 and typmod >= 4:
        precision = ((typmod - 4) >> 16) & 0xFFFF
        scale = (typmod - 4) & 0xFFFF
        if 0 < precision <= 38 and scale <= precision:
            return DecimalType(precision, scale)
    return StringType()


class PostgresConnector(BaseConnector):
    """Auto-loader over a live PostgreSQL database reached through the
    wire-protocol client.

    Parameters
    ----------
    spark:
        Session for the DataFrame side of the lifecycle (dedup,
        null-safe key merge, compare validation).
    client:
        An open :class:`PGWireClient`; alternatively pass ``sock_dir``/
        ``host``/``port``/``user``/``database``/``password`` and one is
        opened here (``password`` and ``tls`` also flow to every
        executor/aux connection — md5 and SCRAM-SHA-256 servers are
        supported, ``tls=True`` STARTTLS-wraps every TCP connection,
        and ``tls_ca=`` additionally verifies the server certificate
        chain on each of them; ``tls_verify_hostname=True`` upgrades
        to verify-full).  The connector owns whichever
        connection it uses (``close()``).
    copy_threshold:
        Payload row-count bound at or below which inserts land the
        collected payload over the driver connection.  Above it — or
        whenever the payload size is unknown — executors COPY
        partitions concurrently into an unlogged staging table,
        provided connect parameters were given so they can dial in.
        Either landing is merged by the same statement.
    copy_connections:
        Cap on concurrent executor COPY connections (partitions are
        coalesced down to this before the write; distributed reads
        split into at most this many ctid ranges).
    read_copy_bytes:
        On-disk size (heap + TOAST) above which out-of-transaction
        table reads are distributed: executors stream disjoint ctid
        block ranges via ``COPY (SELECT ...) TO STDOUT`` instead of one
        driver-connection ``SELECT *``.  Mid-transaction reads always
        stay on the driver connection (the connector's own uncommitted
        rows must be visible) and log a loud warning above this size.
    """

    _quote = '"'

    #: this sink's canonical wall clock is UTC: every connection is
    #: pinned ``SET TIME ZONE 'UTC'`` and both landings store a
    #: TimestampType's UTC wall clock into zone-less columns, so the
    #: lifecycle's read-back alignment reads those wall clocks in UTC
    #: whatever the session timezone
    _utc_wall_clock = True

    def __init__(
        self,
        spark: SparkSession,
        *,
        client: PGWireClient | None = None,
        sock_dir: str | None = None,
        host: str | None = None,
        # no meaningful default exists: EmbeddedPostgres allocates an
        # OS-assigned ephemeral port (round 11), so ALWAYS pass the
        # server's actual port (e.g. ``port=pg.port``); 5432 is the
        # conventional default only for external production servers
        port: int = 5432,
        user: str = "postgres",
        database: str = "postgres",
        password: str | None = None,
        tls: bool = False,
        tls_ca: str | None = None,
        tls_verify_hostname: bool = False,
        copy_threshold: int = 5000,
        copy_connections: int = 16,
        read_copy_bytes: int = 8 << 20,
        snapshot_exports: int = _MAX_SNAPSHOT_HOLDERS,
    ) -> None:
        self.spark = spark
        # executor connect parameters; without them (bare client=) the
        # distributed COPY path is unavailable and all writes stay on
        # the driver connection
        self._connect = (
            {
                "sock_dir": sock_dir,
                "host": host,
                "port": port,
                "user": user,
                "database": database,
                "password": password,
                "tls": tls,
                "tls_ca": tls_ca,
                "tls_verify_hostname": tls_verify_hostname,
            }
            if sock_dir is not None or host is not None
            else None
        )
        if client is None:
            if self._connect is None:
                msg = "pass either an open client= or sock_dir=/host="
                raise ValueError(msg)
            client = PGWireClient(**self._connect)
        self.client = client
        self.client.execute(_TZ_SETUP)
        self.dialect = PostgresDialect()
        self.copy_threshold = copy_threshold
        self.copy_connections = copy_connections
        self.read_copy_bytes = read_copy_bytes
        #: cap on live snapshot-export connections (one idle read-only
        #: REPEATABLE READ transaction per distributed read): a
        #: long-lived connector must not exhaust max_connections or
        #: pin the vacuum horizon indefinitely.  Past the cap the
        #: OLDEST export is released — any frame from that read (even
        #: one never yet acted on: exports happen at construction,
        #: imports at action time) then fails loudly with "invalid
        #: snapshot identifier" instead of the SERVER failing new
        #: connections.  Size it to the number of big-table frames the
        #: application keeps live simultaneously.
        self.snapshot_exports = snapshot_exports
        self._staging: set[str] = set()
        self._in_transaction = False
        #: open snapshot-export connections backing distributed reads
        self._snapshot_holders: list[PGWireClient] = []
        self.schema = self.get_schema()

    # -- transactions -------------------------------------------------------

    def __enter__(self):  # noqa: ANN204 - Self on 3.11 via base
        self.client.execute("BEGIN")
        self._in_transaction = True
        return self

    def __exit__(self, exc_type: object, *exception: object) -> None:
        self._in_transaction = False
        # a failed statement leaves the transaction aborted; ROLLBACK is
        # always legal, COMMIT of an aborted transaction rolls back too
        self.client.execute("COMMIT" if exc_type is None else "ROLLBACK")
        if exc_type is None and self.client.last_tag == "ROLLBACK":
            # an earlier statement aborted the transaction and user code
            # swallowed the exception inside the block: the server turned
            # our COMMIT into a rollback and reports it ONLY via the
            # command tag — surface it instead of claiming durability
            self._sweep_staging()
            msg = (
                "COMMIT completed as ROLLBACK: the transaction was "
                "aborted by an earlier error inside the block; nothing "
                "was persisted"
            )
            raise TransactionAbortedError(msg)
        # a clean commit also committed the staging drops; after a
        # rollback the drops rolled back while the COPY'd staging data
        # (committed by executor connections) survived — sweep it now
        self._sweep_staging()

    def close(self) -> None:
        self._release_snapshots()
        self._sweep_staging()
        self.client.close()

    def _sweep_staging(self) -> None:
        for stage in list(self._staging):
            try:
                self.client.execute(
                    f'DROP TABLE IF EXISTS "{_STAGING_SCHEMA}"."{stage}"'
                )
            except PGWireError:  # pragma: no cover - sweep is best-effort
                break
            self._staging.discard(stage)

    # -- DDL / metadata -----------------------------------------------------

    def execute_ddl(self, script: str) -> None:
        """Run a DDL script and re-introspect (reference C5 passthrough,
        connector.py:167-173).  A multi-statement simple-query message
        executes as one implicit transaction — all-or-nothing, like the
        sqlite3 ``executescript`` the SQLite sink uses."""
        self.client.execute(script)
        self.update_schema()

    def fetch_schema(self) -> tuple[list[TableDict], list[ReferenceDict]]:
        return fetch_schema_with_dialect(self.dialect, self._rows)

    def _unique_covers(self, table: str, columns: list[str]) -> bool:
        """True when some non-deferrable UNIQUE or PRIMARY KEY
        constraint's columns are a subset of *columns* and a duplicate
        key NECESSARILY conflicts (every member NOT NULL, or the
        constraint is NULLS NOT DISTINCT — plain UNIQUE treats NULL
        keys as distinct, so a nullable member lets exact-duplicate
        NULL-key rows slip past ON CONFLICT).

        When true, re-inserting an exactly-present row is guaranteed to
        hit ``ON CONFLICT DO NOTHING``, so the ``EXCEPT SELECT … FROM
        target`` pre-filter — an O(target) scan per load — is provably
        redundant and the merge skips it.  Deferrable constraints
        are excluded because ON CONFLICT cannot use them as arbiters;
        partial unique INDEXES are not constraints and are (soundly)
        never considered.
        """
        # Probed fresh per WRITE, deliberately uncached: a constraint
        # dropped by ANOTHER session (migration, DBA) must flip the
        # next load back to the EXCEPT layer, or re-loads would
        # silently duplicate — one indexed catalog lookup per write is
        # noise next to the O(target) scan the skip saves.
        # pg_index.indnullsnotdistinct exists from PG 15; version-gate
        # rather than try/except — a failed probe statement would abort
        # an open ``with db:`` transaction.
        # leading digits only: betas/devel report '16beta1'/'17devel'
        digits = re.match(
            r"\d+", self.client.parameters.get("server_version", "")
        )
        major = int(digits.group()) if digits else 0
        nnd = (
            "COALESCE(i.indnullsnotdistinct, FALSE)"
            if major >= 15
            else "FALSE"
        )
        rows = self._rows(
            f"SELECT c.conname, a.attname, a.attnotnull, {nnd} AS nnd"
            "  FROM pg_constraint c"
            "  JOIN pg_attribute a"
            "    ON a.attrelid = c.conrelid"
            "   AND a.attnum = ANY (c.conkey)"
            "  LEFT JOIN pg_index i ON i.indexrelid = c.conindid"
            f" WHERE c.conrelid = {self._regclass(table)}"
            "   AND c.contype IN ('p', 'u')"
            "   AND NOT c.condeferrable"
        )
        by_con: dict[str, list[dict]] = {}
        for r in rows:
            by_con.setdefault(r["conname"], []).append(r)
        cols = set(columns)
        return any(
            ({r["attname"] for r in members} <= cols)
            and (
                all(r["attnotnull"] for r in members)
                or members[0]["nnd"]
            )
            for members in by_con.values()
        )

    # -- wire plumbing ------------------------------------------------------

    def _rows(self, sql: str) -> list[dict]:
        rs = self.client.query(sql)
        if rs is None:
            return []
        return [dict(zip(rs.columns, row, strict=True)) for row in rs.rows]

    def _frame(self, rs: ResultSet | None) -> DataFrame:
        if rs is None:
            return self.spark.createDataFrame([], StructType([]))
        fields = [
            StructField(name, _spark_type(oid, typmod), nullable=True)
            for name, oid, typmod in zip(
                rs.columns, rs.oids, rs.typmods, strict=True
            )
        ]
        rows = [
            tuple(
                str(v)
                if isinstance(f.dataType, StringType) and v is not None
                else v
                for v, f in zip(row, fields, strict=True)
            )
            for row in rs.rows
        ]
        return self.spark.createDataFrame(rows, StructType(fields))

    # -- physical primitives ------------------------------------------------

    def _read_table(self, table: str) -> DataFrame:
        """Current visible contents of *table*, routed by size.

        Small tables (dimension scans, the lifecycle's common case) pull
        through the driver connection — which is also the only correct
        path mid-transaction, where the connector's own uncommitted rows
        must be visible.  Above ``read_copy_bytes`` (and outside a
        transaction, where autocommit means no uncommitted state exists)
        the read goes DISTRIBUTED: executors stream disjoint ctid block
        ranges concurrently via ``COPY (SELECT ...) TO STDOUT`` — the
        read twin of the COPY write path — so a fact-sized key
        retrieval never crosses the driver.  A fact-sized read that is
        FORCED driver-side by an open transaction logs a loud warning
        naming the scale-safe alternatives."""
        size = self._table_size(table)
        big = size is not None and size > self.read_copy_bytes
        if big and self._connect is not None and not self._in_transaction:
            return self._read_table_distributed(table)
        if big:
            logger.warning(
                "Reading %s MiB table '%s' through the single driver "
                "connection (%s). At scale, run fact loads outside the "
                "'with db:' block (autocommit) so reads distribute, or "
                "construct the connector with sock_dir=/host= so "
                "executors can dial in.",
                size >> 20,
                table,
                "open transaction"
                if self._in_transaction
                else "no executor connect parameters",
            )
        return self._frame(self.client.query(f'SELECT * FROM "{table}"'))

    @staticmethod
    def _regclass(table: str) -> str:
        """Escaped ``::regclass`` literal for *table*: the name travels
        INSIDE a string literal for catalog lookups, so it needs literal
        escaping on top of the identifier quoting — a table legally
        named ``it's`` must not terminate the literal (or splice SQL)."""
        ident = '"' + table.replace('"', '""') + '"'
        return f"{pg_literal(ident)}::regclass"

    def _table_size(self, table: str) -> int | None:
        """Total on-disk bytes (heap + TOAST) — one catalog lookup."""
        rs = self.client.query(
            f"SELECT pg_table_size({self._regclass(table)})"
        )
        return rs.rows[0][0] if rs is not None and rs.rows else None

    def _export_read_snapshot(self) -> str | None:
        """Export one MVCC snapshot for a distributed read.

        A lazy partitioned read would otherwise take a separate
        autocommit snapshot per partition connection at action time —
        no single point-in-time view (a concurrent UPDATE can surface a
        row twice or not at all across ranges), and any Spark task
        retry or second action silently re-reads the table's LATER
        state.  Exporting ``pg_export_snapshot()`` from a driver-held
        ``REPEATABLE READ READ ONLY`` transaction and importing it in
        every partition restores exactly the single-connection
        semantics of the driver-side ``_frame`` path.

        The exporting connection must stay open until the partitions
        have imported; derived frames (lifecycle joins/aggregates)
        share the read's RDD plan and may re-execute it much later, so
        the holder lives on the connector until ``close()`` — bounded
        by ``_MAX_SNAPSHOT_HOLDERS`` (oldest released first).  A
        re-execution AFTER close fails loudly server-side ("invalid
        snapshot identifier") instead of silently diverging.  The cost
        is one idle read-only REPEATABLE READ transaction per
        distributed read for the connector's lifetime (it can pin the
        vacuum horizon on a busy server — close connectors promptly; a
        server-side ``idle_in_transaction_session_timeout`` reaping
        the holder degrades a later re-read to the same loud error).
        Failure to export (old server, aux dial-in problem) degrades
        to the previous per-partition-snapshot behavior with a
        warning.
        """
        try:
            holder = self._aux_client()
        except Exception as e:  # noqa: BLE001 - snapshot is best-effort
            logger.warning(
                "could not open a snapshot-export connection (%s); "
                "distributed read proceeds without a shared snapshot",
                e,
            )
            return None
        try:
            holder.execute(
                "BEGIN ISOLATION LEVEL REPEATABLE READ READ ONLY"
            )
            (snapshot_id,) = holder.query(
                "SELECT pg_export_snapshot()"
            ).rows[0]
        except Exception as e:  # noqa: BLE001
            holder.close()
            logger.warning(
                "pg_export_snapshot unavailable (%s); distributed "
                "read proceeds without a shared snapshot",
                e,
            )
            return None
        self._snapshot_holders.append(holder)
        while len(self._snapshot_holders) > self.snapshot_exports:
            _close_quietly(self._snapshot_holders.pop(0))
            logger.warning(
                "released the oldest snapshot export (> %d held — "
                "raise snapshot_exports= to keep more): any frame "
                "from that read now fails loudly when (re-)executed",
                self.snapshot_exports,
            )
        return str(snapshot_id)

    def _release_snapshots(self) -> None:
        """Close all snapshot-export connections (their transactions
        abort server-side; later imports then fail loudly)."""
        while self._snapshot_holders:
            _close_quietly(self._snapshot_holders.pop())

    def _read_table_distributed(self, table: str) -> DataFrame:
        """N executor connections each COPY one ctid block range out of
        the server; rows parse by column OID executor-side
        (:func:`pgwire.copy_text_parse`) and land as a typed DataFrame
        without ever touching the driver.  All partitions import ONE
        exported MVCC snapshot (:meth:`_export_read_snapshot`), so the
        frame is a consistent point-in-time view even under concurrent
        writers and across task retries."""
        meta = self.client.query(f'SELECT * FROM "{table}" LIMIT 0')
        fields = [
            StructField(name, _spark_type(oid, typmod), nullable=True)
            for name, oid, typmod in zip(
                meta.columns, meta.oids, meta.typmods, strict=True
            )
        ]
        (main_bytes,) = self.client.query(
            f"SELECT pg_relation_size({self._regclass(table)})"
        ).rows[0]
        blocks = max(int(main_bytes) // 8192, 1)
        # ~64 blocks (512 KiB) of heap per task at minimum; capped by
        # the connection budget
        nranges = max(min(self.copy_connections, blocks // 64), 1)
        bounds = [blocks * i // nranges for i in range(nranges)]
        ranges: list[tuple[int, int | None]] = [
            (bounds[i], bounds[i + 1] if i + 1 < nranges else None)
            for i in range(nranges)
        ]
        quoted = ", ".join(f'"{c}"' for c in meta.columns)
        conn = self._connect
        assert conn is not None  # routing guarantees this  # noqa: S101
        # columns landing as StringType must ARRIVE as strings: mask
        # their wire OID to text so decoders that return richer Python
        # types (e.g. Decimal for a bare unconstrained numeric, which
        # has no typmod to map) don't crash schema verification — the
        # same `str(v)` coercion the driver-path _frame applies
        masked_oids = [
            25 if isinstance(f.dataType, StringType) else oid
            for f, oid in zip(fields, meta.oids, strict=True)
        ]
        snapshot_id = self._export_read_snapshot()
        rdd = self.spark.sparkContext.parallelize(
            ranges, len(ranges)
        ).mapPartitions(
            _copy_partition_reader(
                conn, table, quoted, masked_oids, snapshot_id
            )
        )
        # NOTE: the export is held until close() — NOT tied to this
        # wrapper's garbage collection, because derived frames (joins,
        # aggregates the lifecycle builds on top) share the underlying
        # RDD plan and outlive the wrapper object.
        return self.spark.createDataFrame(rdd, StructType(fields))

    def _write_new_rows(
        self,
        table: str,
        new_rows: DataFrame,
        columns: list[str],
        *,
        payload_bound: int | None = None,
    ) -> None:
        """Idempotent insert (mirrors the SQLite sink): land → merge →
        drop.

        The payload lands as COPY text in a table typed like the target
        (CTAS ``WITH NO DATA`` clones exact typmods), so each value
        enters through its column type's input function — a value too
        long for varchar(n) errors where a ``::cast`` would truncate.
        At or below ``copy_threshold`` known rows, or without connect
        parameters, it is collected and COPYed over the driver
        connection into the session-temp ``pg_temp."__al_values"``;
        otherwise executors COPY partitions into an unlogged staging
        table (:meth:`_stage_frame`) and nothing reaches the driver.

        One ``INSERT … ON CONFLICT DO NOTHING`` over
        :meth:`_merge_source` then runs both idempotency layers
        server-side — present rows are filtered out, and REAL
        constraints arbitrate genuine conflicts exactly like the
        reference (postgres_connector.py:13-28) — so the target is never
        read back.  The merge and the landing's DROP run on the driver
        connection and commit or roll back with the ``with`` block;
        rolled-back staging is swept on ``__exit__``/``close``.  Each
        merge emits one INFO record naming its landing and source.
        """
        quoted = ", ".join(f'"{c}"' for c in columns)
        small = (
            payload_bound is not None
            and payload_bound <= self.copy_threshold
        )
        if self._connect is not None and not small:
            landing, stage = self._stage_frame(
                new_rows,
                columns,
                like_sql=f'SELECT {quoted} FROM "{table}"',
                prefix=f"stage_{table}",
            )
        else:
            payload = self._render_whole_numbers(
                self.client, f'"{table}"', new_rows.select(*columns)
            )
            # encode the whole payload BEFORE the first write: a
            # rejected value (lone surrogate) writes nothing
            rows = self._render_timestamps(payload).collect()
            chunks = list(_copy_chunks(rows, columns))
            if not chunks:
                return
            landing, stage = 'pg_temp."__al_values"', None
            self.client.execute(f"DROP TABLE IF EXISTS {landing}")
            self.client.execute(
                f'CREATE TEMP TABLE "__al_values" AS '
                f'SELECT {quoted} FROM "{table}" WITH NO DATA'
            )
            self.client.copy_in(
                f"COPY {landing} ({quoted}) FROM STDIN", chunks
            )
        source = self._merge_source(table, landing, quoted, columns)
        self.client.execute(
            f'INSERT INTO "{table}" ({quoted}) '
            f"SELECT {quoted} FROM ({source}) AS __new "
            "ON CONFLICT DO NOTHING"
        )
        # transactional: rolls back with the block, in which case the
        # exit sweep drops an executor landing's orphan
        self.client.execute(f"DROP TABLE {landing}")
        if stage is not None and not self._in_transaction:
            self._staging.discard(stage)
        decision = "driver" if stage is None else "executor"
        merge = "distinct" if source.startswith("SELECT DISTINCT") else "except"
        logger.info(
            "pg_write table=%s landing=%s merge=%s",
            table,
            decision,
            merge,
            extra={
                "op": "pg_write",
                "decision": decision,
                "merge": merge,
                "table": table,
            },
        )

    def _merge_source(
        self, table: str, staging: str, quoted: str, columns: list[str]
    ) -> str:
        """The merge statement's row source over the landing table.

        Default: ``landing EXCEPT SELECT … FROM target`` — the
        null-safe already-present filter, which also dedups the landing
        (executor task retries may duplicate partition rows) and keeps
        re-loads of identical data from growing CONSTRAINT-LESS tables.
        ``EXCEPT`` is exact SQL VALUE equality with set semantics
        (numeric 1.5 ≡ 1.50, float -0 ≡ 0, NULLs not distinct) that
        PostgreSQL executes as a linear, hashable HashSetOp.  A
        hand-rolled ``NOT EXISTS`` with ``IS NOT DISTINCT FROM`` has the
        same semantics but cannot hash: it plans a Nested Loop Anti
        Join, O(landing × target), measured 239 s where this shape
        takes ~4 s.

        When a covering UNIQUE/PK constraint guarantees that an
        exactly-present row conflicts (:meth:`_unique_covers`), the
        EXCEPT's O(target) scan per load is provably redundant — ``ON
        CONFLICT DO NOTHING`` alone already provides both idempotency
        layers — so the source collapses to ``SELECT DISTINCT`` over the
        landing only: an incremental load into a billion-row constrained
        fact table then touches the index, not the heap.

        Side effect of the skip: ``ON CONFLICT DO NOTHING`` evaluates
        identity/sequence defaults BEFORE arbitration, so re-loading an
        already-present payload into a covered table with a
        ``GENERATED ... AS IDENTITY`` column consumes sequence values
        for the skipped rows — surrogate-id GAPS grow by up to the
        payload size per re-load.  Gaps are semantically harmless
        (identity columns promise uniqueness, not density) and a bigint
        sequence holds 2^63 values, but hourly re-loads of a large
        static payload could exhaust an ``integer`` identity's 2^31 in
        weeks, so the EXCEPT layer stays whenever the target carries a
        narrow (int2/int4) identity or serial column
        (:meth:`_narrow_identity`).  See OPERATIONS.md § Operating the
        PostgreSQL sink.
        """
        covered = self._unique_covers(table, columns)
        if covered and not self._narrow_identity(table):
            return f"SELECT DISTINCT {quoted} FROM {staging}"
        return (
            f"SELECT {quoted} FROM {staging} "
            f'EXCEPT SELECT {quoted} FROM "{table}"'
        )

    def _narrow_identity(self, table: str) -> bool:
        """True when *table* has an int2/int4 identity or serial
        column — the sequence-exhaustion hazard that keeps the merge's
        EXCEPT layer (a 2^31 sequence consumed by skipped re-insert
        rows).  Probed fresh per write like :meth:`_unique_covers` (a
        type change by another session must flip the next load's plan);
        one indexed catalog lookup per write.
        """
        rows = self._rows(
            "SELECT count(*) AS n"
            "  FROM pg_attribute a"
            "  LEFT JOIN pg_attrdef d"
            "    ON d.adrelid = a.attrelid AND d.adnum = a.attnum"
            f" WHERE a.attrelid = {self._regclass(table)}"
            "   AND a.attnum > 0 AND NOT a.attisdropped"
            "   AND a.atttypid IN ('int2'::regtype, 'int4'::regtype)"
            "   AND (a.attidentity IN ('a', 'd')"
            "        OR pg_get_expr(d.adbin, d.adrelid)"
            "           LIKE 'nextval(%')"
        )
        return bool(rows and rows[0]["n"])

    def _stage_frame(
        self,
        frame: DataFrame,
        columns: list[str],
        *,
        like_sql: str,
        prefix: str,
    ) -> tuple[str, str]:
        """Distributed COPY of *frame* into a fresh unlogged staging
        table whose column types clone *like_sql*'s output (so the
        server casts COPY text into exactly the landing types).

        Staging lives in its own schema, created and COPY'd over
        AUTOCOMMIT connections so executors can see it even while the
        driver connection is mid-transaction; task retries may duplicate
        partition rows, which every consumer neutralizes (the write
        merge's EXCEPT or DISTINCT, the compare's DISTINCT checksum).
        Returns ``(qualified_name, stage_name)``; the stage is
        registered for the exit/close sweeps.
        """
        stage = f"{prefix}_{os.urandom(6).hex()}"
        quoted = ", ".join(f'"{c}"' for c in columns)
        qualified = f'"{_STAGING_SCHEMA}"."{stage}"'
        aux = self._aux_client()
        try:
            aux.execute(f'CREATE SCHEMA IF NOT EXISTS "{_STAGING_SCHEMA}"')
            aux.execute(
                f"CREATE UNLOGGED TABLE {qualified} AS {like_sql} "
                "WITH NO DATA"
            )
            self._staging.add(stage)
            out = self._render_whole_numbers(
                aux, qualified, frame.select(*columns)
            )
        finally:
            aux.close()
        out = self._render_timestamps(out)
        if (
            out.rdd.getNumPartitions() > self.copy_connections
        ):  # cap concurrent server connections
            out = out.coalesce(self.copy_connections)
        conn = self._connect
        assert conn is not None  # routing guarantees this  # noqa: S101
        out.foreachPartition(
            _copy_partition_writer(
                conn, f"COPY {qualified} ({quoted}) FROM STDIN", list(columns)
            )
        )
        return qualified, stage

    @staticmethod
    def _render_timestamps(frame: DataFrame) -> DataFrame:
        """Render timestamp columns to UTC wall-clock text JVM-side
        before they leave Spark (executor COPY partitions and the driver
        path's collect alike).

        ``TimestampType`` would cross the Python boundary as a NAIVE
        datetime in the Python process's timezone, which the server then
        reinterprets in the CONNECTION's timezone — two settings that
        nothing forces to agree.  Instead, render the instant's wall
        clock in UTC through a zone-free expression
        (``ops.to_utc_wall_clock``), so neither the session nor the
        process timezone enters: every connection this connector opens
        is pinned ``SET TIME ZONE 'UTC'``, so a ``timestamptz`` landing
        stores the exact instant and a ``timestamp`` landing stores the
        canonical UTC wall clock, and both landings receive
        bit-identical values.  NTZ timestamps are zone-free wall clocks —
        a plain string cast is canonical.
        """
        ts = (TimestampType, TimestampNTZType)
        if not any(isinstance(f.dataType, ts) for f in frame.schema.fields):
            return frame
        exprs = []
        for fld in frame.schema.fields:
            col = F.col(fld.name)
            if isinstance(fld.dataType, TimestampType):
                col = ops.to_utc_wall_clock(col)
            if isinstance(fld.dataType, ts):
                col = col.cast("string").alias(fld.name)
            exprs.append(col)
        return frame.select(*exprs)

    @staticmethod
    def _render_whole_numbers(
        client: PGWireClient, relation: str, frame: DataFrame
    ) -> DataFrame:
        """Render whole-valued fractional cells bound for INTEGER columns
        of *relation* as integer text JVM-side, so ``3.0`` lands as
        ``3``.

        COPY text enters through the target type's input function, and
        PostgreSQL's integer input rejects ``3.0`` and ``2.0``
        (``22P02``) although the value is exact.  A double/float or
        decimal(p, s>0) column headed for an int2/int4/int8 column
        sends a whole value as its integer text; any other value keeps
        its plain string cast, which the integer input still rejects
        (``1.5``, ``NaN``), so nothing is rounded.  Columns headed for
        any other type are untouched.  The column types come from one
        ``LIMIT 0`` probe of *relation* over *client* (the driver
        landing probes the target, :meth:`_stage_frame` its freshly
        created staging table), sent only when the payload has a
        fractional column.
        """
        fractional = [
            f.name
            for f in frame.schema.fields
            if isinstance(f.dataType, (DoubleType, FloatType))
            or (isinstance(f.dataType, DecimalType) and f.dataType.scale > 0)
        ]
        if not fractional:
            return frame
        quoted = ", ".join(f'"{c}"' for c in fractional)
        meta = client.query(f"SELECT {quoted} FROM {relation} LIMIT 0")
        integral = {
            name
            for name, oid in zip(meta.columns, meta.oids, strict=True)
            if oid in _INTEGER_OIDS
        }
        if not integral:
            return frame
        exprs = []
        for fld in frame.schema.fields:
            col = F.col(fld.name)
            if fld.name in integral:
                if isinstance(fld.dataType, DecimalType):
                    whole = col % 1 == 0
                    as_int = col.cast(DecimalType(fld.dataType.precision, 0))
                else:  # a whole double below 2^63 converts exactly
                    whole = (col % 1 == 0) & (F.abs(col) < F.lit(2.0**63))
                    as_int = col.cast("long")
                col = (
                    F.when(whole, as_int.cast("string"))
                    .otherwise(col.cast("string"))
                    .alias(fld.name)
                )
            exprs.append(col)
        return frame.select(*exprs)

    def _drop_stage_quietly(self, qualified: str, stage: str) -> None:
        """Best-effort staging drop on an error path: inside an aborted
        transaction the DROP itself errors — swallow it (the exit sweep
        or ``sweep_staging`` reclaims the orphan) so the ROOT cause
        propagates instead of the follow-on."""
        try:
            self.client.execute(f"DROP TABLE IF EXISTS {qualified}")
            self._staging.discard(stage)
        except PGWireError:
            pass

    def _aux_client(self) -> PGWireClient:
        conn = self._connect
        if conn is None:  # pragma: no cover - guarded by callers
            msg = "distributed COPY path needs sock_dir=/host= parameters"
            raise ValueError(msg)
        return _dial(conn)

    def sweep_staging(self) -> int:
        """Drop EVERY table in the staging schema — recovery after a
        crashed driver (cf. ``SparkConnector.recover_staging``).  Call
        only while no load is in flight anywhere: staging tables are
        per-statement scratch, so outside an active ``load`` the schema
        should be empty."""
        rows = self._rows(
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{_STAGING_SCHEMA}'"
        )
        for row in rows:
            self.client.execute(
                f'DROP TABLE IF EXISTS "{_STAGING_SCHEMA}"."{row["table_name"]}"'
            )
        self._staging.clear()
        return len(rows)

    def _execute_compare_query(self, query: str) -> DataFrame:
        return self._frame(self.client.query(query))

    def _serverside_fast_compare(
        self, data: DataFrame, query: str
    ) -> bool | None:
        """Checksum set-equality computed ENTIRELY inside PostgreSQL.

        The scale problem this solves (reference connector.py:326-374 at
        100 TB): ``_execute_compare_query`` decodes the full fact-sized
        reconstruction through ONE driver wire connection.  Instead, the
        loaded frame is distributed-COPY'd once more into unlogged
        staging (N executor streams — the same parallel topology as the
        write path), and one server-side aggregate computes the
        :func:`ops.fast_set_equal` analogue over both sides: per-side
        counts plus order-independent sum/xor combiners of two
        independent 64-bit hash channels (the halves of ``md5`` over
        each row's canonical record text).  Eleven numbers cross the
        wire.  Both sides hash through PostgreSQL's OWN value rendering
        (``record_out``), so every representation question — float
        shortest-round-trip, numeric scale, timestamptz — is answered by
        one engine and cancels out.

        ``True`` proves set equality under PostgreSQL's ASSIGNMENT-CAST
        semantics (the staged payload coerces into the reconstruction's
        column types before hashing) — for non-canonical text payloads
        (e.g. '01' into an int column) that is a hair wider than the
        in-Spark path's match_dtypes alignment; see the semantic note
        at the ``compare`` hook (base.py).  Mechanically: staging is
        checksummed DISTINCT (
        data is distinct by construction and executor task retries may
        duplicate partition rows; the reconstruction side streams raw,
        exactly like the in-Spark fast path).  ``False`` proves nothing
        by itself — the caller falls back to the row-pulling grouped
        compare for classification and error samples (the rare path by
        construction).  ``None`` when executors cannot dial in (bare
        ``client=`` construction).
        """
        if self._connect is None:
            return None
        cols = data.columns
        quoted = ", ".join(f'"{c}"' for c in cols)
        try:
            qualified, stage = self._stage_frame(
                data,
                cols,
                like_sql=f"SELECT {quoted} FROM ({query}) __q",
                prefix="stage_cmp",
            )
        except Exception as e:  # noqa: BLE001 - staging is best-effort here
            # Staging runs on AUX/executor connections (aux CREATE
            # SCHEMA/TABLE, executor COPY dial-in), so its failure
            # NEVER touches the driver connection or its transaction —
            # e.g. a sock_dir= deployment where executors on other
            # machines cannot reach the socket but the driver can.  The
            # fast path is an optimization, never a gate: degrade to
            # the driver-side compare, mid-transaction included (the
            # driver transaction is still valid by construction, and the
            # motivating deployment loads small dimensions entirely
            # driver-side inside a ``with`` bracket — raise-through
            # here would regress exactly that).  A half-created stage
            # is registered and reclaimed by the exit/close sweeps.
            # Contrast the CHECKSUM-query failure below, which runs on
            # the driver connection and aborts the bracket — that one
            # must raise through mid-transaction.
            logger.warning(
                "server-side checksum compare could not stage the "
                "frame (%s); falling back to the driver-side compare",
                e,
            )
            return None
        checksum = _checksum_compare_sql(qualified, quoted, query)
        try:
            (row,) = self.client.query(checksum).rows
        except PGWireError as e:
            self._drop_stage_quietly(qualified, stage)
            if self._in_transaction:
                # the failed statement aborted the transaction; nothing
                # (not even the fallback compare) can proceed — let the
                # ROOT error surface, not a drop/abort follow-on
                raise
            logger.warning(
                "server-side checksum compare unavailable (%s); "
                "falling back to the driver-side compare",
                e,
            )
            return None
        # transactional like the write path: rolls back with the
        # block, in which case the exit sweep drops the orphan
        self.client.execute(f"DROP TABLE {qualified}")
        if not self._in_transaction:
            self._staging.discard(stage)
        n_d, n_b = row[0], row[1]
        if n_b == 0:
            return False  # callers treat "no results" as a failure
        return n_d == n_b and all(
            row[i] == row[i + 1] for i in range(2, 10, 2)
        )
