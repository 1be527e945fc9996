"""SparkConnector — the native Spark-catalog sink.

Parity target: the reference's SQLite connector lifecycle
(/root/reference/sql_autoloader/sqlite_connector.py:150-259), restated
over Spark tables.  Three reference mechanisms have no Spark primitive
and are re-expressed here:

1. **Idempotent insert** (``INSERT OR IGNORE``, sqlite_connector.py:10-25):
   Spark has no unique constraints, so the natural keys declared in the
   DDL (UNIQUE clauses) drive explicit null-safe left-anti joins — a row
   is skipped iff some applicable unique constraint already matches an
   existing row.  With no declared constraint the anti-join key is every
   inserted column (idempotent re-loads, like the reference's pre-insert
   dedup).  At scale each anti-join is a broadcast-hash join whenever the
   existing keyed projection fits under the broadcast threshold; AQE
   re-plans otherwise.

2. **Surrogate keys** (DB autoincrement, read back via
   sqlite_connector.py:45-61): ``max(existing id) + dense rank ordered
   by the natural key`` on the *new rows only*.  The
   rank is a single-partition window only when the payload is provably
   small (``load`` threads its input count through as an upper bound);
   large or unknown payloads take a distributed range-partitioned
   ranking with per-partition offsets — identical ids, no single-task
   sort, scales to billion-member first bulk loads.  The max-id scan is
   fused into the write lineage as a broadcast cross-join (no driver
   round-trip per table).

3. **Transactions** (commit/rollback around the ``with`` block,
   sqlite_connector.py:197-204): writes accumulate as *pending appends*
   (DataFrames) layered over committed content; every read inside the
   block sees committed + pending (a transaction sees its own writes).
   Clean ``__exit__`` promotes pending to committed (physical mode:
   one ``append`` write per table — never a rewrite); an exception
   discards pending, restoring the entry state.  Managed-catalog
   commits are atomic ACROSS tables via a manifest-commit protocol
   with OPTIMISTIC multi-writer concurrency: appended rows carry a
   hidden writer-unique token column and stay invisible until one
   atomic journal-file rename publishes the token under the next free
   commit id (see :meth:`commit` and :class:`_CommitJournal`) —
   concurrent committers never mix rows and never wait, a commit-id
   race just retries the rename; crashes leave only invisible orphans,
   swept at the next connector open.
"""

from __future__ import annotations

import json
import threading
import uuid
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_autoloader_spark.connectors.base import BaseConnector, in_caller_context
from sql_autoloader_spark.connectors.ddl import (
    AlterAddColumn,
    DropTable,
    ParsedTable,
    parse_script_actions,
)
from sql_autoloader_spark.exceptions import InvalidTableError
from sql_autoloader_spark.ops.dataframe_ops import empty_frame, local_frame
from sql_autoloader_spark.schema import ReferenceDict, Schema, TableDict

if TYPE_CHECKING:
    from typing import Self

#: serializes :meth:`SparkConnector._lazy_pin`'s AQE/shuffle-partitions
#: toggle: the conf is SESSION-global, so two threads pinning at once
#: (multi-threaded connectors on one session are supported) could
#: restore each other's transient values and leave AQE off for
#: unrelated queries.  The toggle only plans, so the lock is never held
#: across execution.
_CONF_LOCK = threading.Lock()

#: hidden commit-token column on managed tables (manifest-commit protocol)
_COMMIT_COL = "__commit_id"
#: legacy per-database journal table (pre-file-journal databases); still
#: read for backward compatibility, never written anymore
_JOURNAL = "__sql_autoloader_commits"
#: tokens below this are legacy commit epochs (dense small ints); new
#: tokens are random 63-bit values with this bit set, so the two ranges
#: can never collide
_TOKEN_FLOOR = 1 << 62
#: visible-token filters inline up to this many literals (Catalyst
#: compiles >10 into an O(1)-per-row InSet); longer histories switch to
#: a broadcast semi-join for constant plan size (see _visible_where)
_TOKEN_INLINE_LIMIT = 1024


class ClaimStrategy:
    """The ONE storage-specific primitive of the commit protocol:
    atomically materialize ``<dir>/<dest_name>`` with the prepared temp
    file's content iff it does not already exist.

    Everything else in :class:`_CommitJournal` — id allocation, retry,
    floor/intent markers, recovery — is storage-agnostic; porting the
    journal to a new store means implementing exactly this method.
    ``True`` = this writer owns the commit id; ``False`` = a conflicting
    commit file exists (the loser retries with the next id); raise for
    non-conflict failures (permissions, quota)."""

    #: whether a successful claim consumes the prepared temp file
    #: (rename does; link and conditional PUT leave it for the caller)
    consumes_tmp = False

    def claim(
        self, journal: "_CommitJournal", tmp_name: str, dest_name: str
    ) -> bool:
        raise NotImplementedError


class LinkClaim(ClaimStrategy):
    """``file://`` — ``java.nio.Files.createLink``: ``link(2)`` is a
    single syscall failing with ``EEXIST``, with none of the TOCTOU
    window of Hadoop's local rename (whose no-overwrite contract is a
    non-atomic exists-check before ``rename(2)``, which itself silently
    replaces)."""

    def claim(
        self, journal: "_CommitJournal", tmp_name: str, dest_name: str
    ) -> bool:
        local = journal._dir
        for prefix in ("file://", "file:"):
            if local.startswith(prefix):
                local = local[len(prefix):]
                break
        jf = journal._jvm.java.io.File
        try:
            journal._jvm.java.nio.file.Files.createLink(
                jf(f"{local}/{dest_name}").toPath(),
                jf(f"{local}/{tmp_name}").toPath(),
            )
            return True
        except Exception as e:  # noqa: BLE001 — py4j-wrapped Java
            java_cls = getattr(
                getattr(e, "java_exception", None), "getClass", None
            )
            if (
                java_cls is not None
                and "FileAlreadyExistsException" in java_cls().getName()
            ):
                return False
            raise


class RenameClaim(ClaimStrategy):
    """HDFS and other rename-atomic filesystems —
    ``FileSystem.rename``, an atomic server-side no-overwrite
    operation.  NOT safe on S3-like object stores, whose rename is
    copy+delete: use :class:`ConditionalPutClaim` there."""

    consumes_tmp = True

    def claim(
        self, journal: "_CommitJournal", tmp_name: str, dest_name: str
    ) -> bool:
        return journal._fs.rename(
            journal._path_cls(f"{journal._dir}/{tmp_name}"),
            journal._path_cls(f"{journal._dir}/{dest_name}"),
        )


class ConditionalPutClaim(ClaimStrategy):
    """Object stores — claim via conditional PUT (``If-None-Match: *``,
    supported by S3/GCS/Azure): write the commit object directly, the
    store itself rejects the write if the key exists.

    *put_if_absent(path, content) -> bool* is the injected store call
    (e.g. a boto3 ``put_object(..., IfNoneMatch="*")`` wrapper that
    maps HTTP 412 to ``False``); the journal never needs rename or
    link on such stores.  Reads still go through the Hadoop FS —
    S3-class stores are strongly consistent, so a successful PUT is
    immediately visible to the journal's directory listing."""

    def __init__(self, put_if_absent) -> None:  # noqa: ANN001
        self._put_if_absent = put_if_absent

    def claim(
        self, journal: "_CommitJournal", tmp_name: str, dest_name: str
    ) -> bool:
        content = journal._read(tmp_name).encode()
        return bool(
            self._put_if_absent(f"{journal._dir}/{dest_name}", content)
        )


def _journal_name(name: str) -> tuple[str, int]:
    """``(kind, number)`` of a journal file name: ``<cid>.commit``
    (content: the commit's row token), ``<N>.floor`` (vacuum horizon),
    ``<N>.vacuuming`` (vacuum intent) or ``<token>.manifest`` (the
    commit's data files per table); kind ``""`` for anything else."""
    stem, _, kind = name.rpartition(".")
    if kind in ("commit", "floor", "vacuuming", "manifest") and stem.isdigit():
        return kind, int(stem)
    return "", 0


def _decode_journal(
    names: Iterable[str],
    read: Callable[[str], str],
    tokens: dict[int, int] | None = None,
) -> tuple[dict[int, int], int, int, bool]:
    """``(visible {cid: token}, floor, intent, complete)`` from one
    listing of the journal directory — the journal's one decoder, which
    the catalog runs over Hadoop FS and the streaming changes feed over
    ``os``.  *read* returns a journal file's text by name, raising
    ``OSError`` when it cannot; *tokens* optionally caches cid → token
    across listings (commit files are immutable).

    Commits at or below the vacuum floor are excluded: their rows were
    folded into token 0, and honoring the floor here makes a crash
    between the floor write and the file deletions harmless.
    ``intent`` is the highest in-progress-or-done vacuum horizon (>
    floor while a vacuum is mid-flight): reads refuse ids at or below
    it rather than serve a half-folded snapshot.  An unreadable commit
    file (mid-publish on a non-atomic filesystem, or tampered) is
    skipped uncached, for a later listing to pick up; ``complete`` is
    then False."""
    commits: dict[int, str] = {}
    floor = intent = 0
    for name in names:
        kind, n = _journal_name(name)
        if kind == "commit":
            commits[n] = name
        elif kind == "floor":
            floor = max(floor, n)
        elif kind == "vacuuming":
            intent = max(intent, n)
    cache = {} if tokens is None else tokens
    visible: dict[int, int] = {}
    complete = True
    for cid, name in commits.items():
        if cid <= floor:
            continue
        if cid not in cache:
            try:
                cache[cid] = int(read(name).strip())
            except (OSError, ValueError):
                complete = False
                continue
        visible[cid] = cache[cid]
    return visible, floor, max(intent, floor), complete


def _manifest_files(
    read: Callable[[str], str],
    exists: Callable[[str], bool],
    table: str,
    location: str,
    tokens: Iterable[int],
) -> list[str] | None:
    """The data files that the manifests of the commits carrying
    *tokens* name for *table* (``[]`` when those commits touched only
    other tables), or None to fall back to scanning the whole table.

    Entries are keyed by table name and list paths relative to the
    table root, which are joined onto its current *location*: a copied
    or moved warehouse resolves where its tables live now.  *read* is
    :func:`_decode_journal`'s; *exists* tests a data file.  Falls back
    whenever the list cannot be proven complete: a token without a
    readable manifest (pre-manifest journal, swept orphan), or a named
    file that is gone (compaction or vacuum rewrote the table; the
    rewritten files still carry the tokens, which only the scan
    finds)."""
    paths: list[str] = []
    for tok in tokens:
        try:
            entry = json.loads(read(f"{tok}.manifest"))["tables"].get(table)
            rels = [] if entry is None else entry["files"]
        except (OSError, ValueError, LookupError, TypeError, AttributeError):
            return None
        for rel in rels:
            path = f"{location.rstrip('/')}/{rel}"
            if not exists(path):
                return None
            paths.append(path)
    return sorted(set(paths))


class _CommitJournal:
    """File-based commit log with OPTIMISTIC multi-writer concurrency.

    The plain-Spark-tables restatement of how Delta/Iceberg get atomic
    multi-writer commits from a filesystem: one file per commit,
    ``<dir>/<cid>.commit`` (content = the commit's row token), created
    through the store's :class:`ClaimStrategy`, which says how each
    store makes it atomic.  That step is the whole commit — claim of
    the commit id and publication of the token in ONE atomic
    operation: of two writers racing for the same cid, exactly one
    claim succeeds and the loser retries with the next id (its DATA
    needs no rewrite — rows are tagged with the writer's own token,
    not the cid).  Readers never see a partial token.

    Readers list the directory: the visible commits are exactly the
    ``*.commit`` files, each mapping cid → token.  Listing is a pure
    driver-side metadata op — refreshing durability runs no Spark jobs.
    """

    def __init__(
        self,
        spark: SparkSession,
        database: str,
    ) -> None:
        location = spark.catalog.getDatabase(database).locationUri
        self._dir = location.rstrip("/") + "/_sql_autoloader_commits"
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._path_cls = jvm.org.apache.hadoop.fs.Path
        root = self._path_cls(self._dir)
        self._fs = root.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        self._fs.mkdirs(root)
        self._root = root
        #: token content cache (commit files are immutable; unreadable
        #: ones are NOT cached — re-read on the next listing)
        self._tokens: dict[int, int] = {}
        #: scheme-appropriate atomic-claim primitive: local paths use
        #: the link(2)-based claim; an object-store deployment assigns a
        #: ConditionalPutClaim here after construction
        scheme = jvm.java.net.URI(location).getScheme()
        self._strategy: ClaimStrategy = (
            LinkClaim() if scheme in (None, "file") else RenameClaim()
        )

    def _read(self, name: str) -> str:
        """Text of the journal file *name*; ``OSError`` when it cannot
        be read (absent, or vanished since the listing)."""
        from py4j.protocol import Py4JError

        try:
            stream = self._fs.open(self._path_cls(f"{self._dir}/{name}"))
            try:
                return self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
        except Py4JError as exc:
            raise OSError(f"cannot read {self._dir}/{name}") from exc

    def _names(self) -> list[str]:
        """One listing of the journal directory: a single metadata RPC
        (listing dominates commit-path metadata cost on object stores)."""
        return [s.getPath().getName() for s in self._fs.listStatus(self._root)]

    def state(self) -> tuple[dict[int, int], int, int]:
        """``(visible {cid: token}, floor, intent)`` from ONE directory
        listing (see :func:`_decode_journal`)."""
        return _decode_journal(self._names(), self._read, self._tokens)[:3]

    def visible(self) -> dict[int, int]:
        return self.state()[0]

    def floor(self) -> int:
        """Highest vacuumed commit id (0 = nothing vacuumed)."""
        return self.state()[1]

    def set_intent(self, horizon: int) -> None:
        """Durably declare a vacuum through *horizon* is beginning:
        from this marker on, time travel at or below the horizon
        errors instead of returning a half-folded snapshot (current
        reads stay correct throughout — both old tokens and token 0
        are visible during the retag)."""
        marker = self._path_cls(f"{self._dir}/{horizon}.vacuuming")
        self._fs.create(marker, True).close()

    def set_floor(self, horizon: int) -> None:
        """Durably record that commits ≤ *horizon* were folded into
        token 0, then delete their files and any intent markers (the
        floor marker makes the deletions crash-safe: readers exclude
        ≤ floor regardless)."""
        marker = self._path_cls(f"{self._dir}/{horizon}.floor")
        self._fs.create(marker, True).close()
        for name in self._names():
            kind, n = _journal_name(name)
            if (kind in ("commit", "vacuuming") and n <= horizon) or (
                kind == "floor" and n < horizon
            ):
                self._fs.delete(self._path_cls(f"{self._dir}/{name}"), False)
        # folded commits' file manifests go with their commit files —
        # their rows were retagged to token 0 and (on the next rewrite)
        # their files replaced, so the manifests describe nothing.
        # Token names come from the listing cache, which the fold path
        # warmed via state(); a manifest this misses is mopped up by
        # sweep_temps' orphan pass at the next open.
        for c, t in self._tokens.items():
            if 0 < c <= horizon:
                self._fs.delete(
                    self._path_cls(f"{self._dir}/{t}.manifest"), False
                )
        self._tokens = {
            c: t for c, t in self._tokens.items() if c > horizon
        }

    def sweep_temps(self) -> int:
        """Delete stale ``tmp-<token>`` claim files and ORPHANED
        ``<token>.manifest`` files (a manifest whose token no published
        commit carries — its writer died between the manifest write and
        the claim), returning the count.

        A completed claim deletes its own temp (or the rename consumes
        it); a temp file that still exists belongs to a writer that is
        either mid-claim RIGHT NOW (a window of milliseconds) or dead —
        killed between writing the temp and finishing ``commit()``,
        including the instant AFTER its link(2) landed (the claim is
        published; only the bookkeeping delete was lost).  Sweeping at
        connector open carries the same caveat as the open-time row
        sweep (:meth:`SparkConnector._recover_orphans`): open
        connectors before starting writers.  A live writer whose temp
        is swept mid-claim fails loudly ("commit temp file vanished
        mid-claim"), never silently; a live writer whose MANIFEST is
        swept mid-commit still publishes fine — its commit merely
        plans through the footer-walk fallback instead of the
        manifest fast path.
        """
        names = self._names()
        visible = _decode_journal(names, self._read, self._tokens)[0]
        live = {f"{token}.manifest" for token in visible.values()}
        doomed = [
            name
            for name in names
            if name.startswith("tmp-")
            or (_journal_name(name)[0] == "manifest" and name not in live)
        ]
        for name in doomed:
            self._fs.delete(self._path_cls(f"{self._dir}/{name}"), False)
        return len(doomed)

    # -- per-commit file manifests ---------------------------------------

    def put_manifest(self, token: int, payload: str) -> None:
        """Durably record the file manifest of the commit carrying
        *token* as ``<token>.manifest`` — written COMPLETE to a temp
        and renamed in, so readers never parse a partial JSON.  Called
        BEFORE the claim (the commit id is unknown until the claim
        lands; readers join token -> cid through the commit file), so
        every published commit has its manifest.  Best-effort: the
        manifest is a PLANNING fast path, never a correctness
        dependency — on failure the commit proceeds and consumers use
        the footer-walk fallback."""
        import logging

        tmp = self._path_cls(f"{self._dir}/tmp-{token}.manifest")
        dest = self._path_cls(f"{self._dir}/{token}.manifest")
        try:
            out = self._fs.create(tmp, True)
            try:
                out.write(bytearray(payload.encode()))
            finally:
                out.close()
            if not self._fs.rename(tmp, dest):
                self._fs.delete(tmp, False)
                msg = "rename refused"
                raise OSError(msg)
        except Exception:
            logging.getLogger("sql_autoloader_spark").warning(
                "could not write commit manifest for token %d; "
                "consumers will plan this commit via the footer-walk "
                "fallback",
                token,
            )

    def _claim(self, tmp_name: str, dest_name: str) -> bool:
        """Atomically claim *dest_name* with *tmp_name*'s content.

        True = this writer owns the commit id; False = already claimed.
        Delegates to the journal's :class:`ClaimStrategy` — the one
        storage-specific primitive in the whole commit protocol.
        """
        return self._strategy.claim(self, tmp_name, dest_name)

    def commit(
        self, token: int, *, after: int, floor: int | None = None
    ) -> int:
        """Durably commit *token*, returning its commit id.

        Writes the token to a temp file once, then claims
        ``<cid>.commit`` starting at ``after + 1``, bumping the id on
        every conflict — the optimistic retry loop.  Returns only when
        a claim lands; raises if the temp file vanishes (an external
        cleanup raced us — never our own doing).  Pass *floor* when the
        caller already listed the journal (saves a metadata RPC).
        """
        tmp_name = f"tmp-{token}"
        tmp = self._path_cls(f"{self._dir}/{tmp_name}")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(str(token).encode()))
        finally:
            out.close()
        # never claim at or below the vacuum floor: those ids' rows were
        # folded into token 0 and readers exclude the id range outright
        if floor is None:
            floor = self.floor()
        cid = max(after, floor) + 1
        while True:
            if self._claim(tmp_name, f"{cid}.commit"):
                self._tokens[cid] = token
                if not self._strategy.consumes_tmp:
                    # link(2)/conditional-PUT leave the temp behind
                    self._fs.delete(tmp, False)
                return cid
            if not self._fs.exists(tmp):
                msg = (
                    "commit temp file vanished mid-claim; another "
                    "process cleaned the journal directory"
                )
                raise RuntimeError(msg)
            # a failed claim may only mean ONE thing — the id is taken.
            # rename() also returns false for persistent non-conflict
            # failures (permissions, quota); retrying those would spin
            # forever burning commit ids, so verify the loser actually
            # lost to a real commit file before bumping the id.
            if not self._fs.exists(
                self._path_cls(f"{self._dir}/{cid}.commit")
            ):
                # the conflicting commit may already be GONE: a
                # concurrent vacuum_commits deletes commits at or below
                # its new floor between our rename and this check.
                # Re-read the floor — if it moved past cid the race was
                # benign; jump past it and retry instead of aborting.
                new_floor = self.floor()
                if new_floor >= cid:
                    cid = new_floor + 1
                    continue
                msg = (
                    f"journal claim of commit {cid} failed but no "
                    f"conflicting commit file exists in {self._dir}; "
                    "filesystem refused the rename (permissions/quota?)"
                )
                raise RuntimeError(msg)
            cid += 1


def _hadoop_fs(spark: SparkSession, path_str: str):  # noqa: ANN202
    """(FileSystem, Path class) for *path_str* — driver-side metadata ops."""
    jvm = spark.sparkContext._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(path_str).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    return fs, path_cls


def _move_data_files(
    spark: SparkSession, src_root: str, dest_root: str, into: list[str]
) -> None:
    """Rename every data file under *src_root* into *dest_root*,
    preserving relative (partition-directory) subpaths.

    The multi-writer-safe physical append: renames are per-file atomic
    filesystem metadata ops, file names embed writer-unique job UUIDs
    (and, for bucketed layouts, the bucket-id suffix, which therefore
    survives the move), and underscore/dot-prefixed entries
    (``_SUCCESS``, checksums) are skipped — Spark scans ignore them
    anyway.  Appends destination paths into *into* AS files move, so a
    caller that fails mid-move knows exactly which files it owns.
    """
    fs, path_cls = _hadoop_fs(spark, src_root)
    stack = [""]
    while stack:
        rel = stack.pop()
        for status in fs.listStatus(path_cls(src_root + rel)):
            name = status.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if status.isDirectory():
                stack.append(f"{rel}/{name}")
                continue
            fs.mkdirs(path_cls(dest_root + rel))
            dest = path_cls(f"{dest_root}{rel}/{name}")
            if not fs.rename(status.getPath(), dest):
                msg = (
                    f"append move failed: {status.getPath()} -> {dest} "
                    "(destination exists or source vanished)"
                )
                raise RuntimeError(msg)
            into.append(str(dest))


class SparkConnector(BaseConnector):
    """Declarative auto-loader over Spark tables.

    Parameters
    ----------
    spark:
        The session to run on.
    database:
        When given, tables are *managed catalog tables* in this database
        and PK/FK/UNIQUE metadata persists as sidecar JSON,
        ``<db>/_sql_autoloader_meta/<table>.json`` beside the data (the
        Spark-native substitute for ``pragma_foreign_key_list``,
        reference sqlite_connector.py:84-147).  When ``None`` (default)
        tables are in-memory DataFrames registered as temp views —
        the ``":memory:"`` analogue.
    dtype_adapters:
        The Spark analogue of the reference's custom-dtype passthrough
        (``allow_custom_dtypes`` + sqlite3 adapters/converters,
        sqlite_connector.py:156-193): ``{column_name: (encode, decode)}``
        where *encode* maps the user's column to the declared storage
        type on write, and *decode* maps it back on every read — so
        joins, key retrieval, and generated compare queries all see the
        user-typed values.  E.g. store ``array<int>`` in a TEXT column:
        ``{"tags": (F.to_json, lambda c: F.from_json(c, "array<int>"))}``.
    broadcast_dims:
        Broadcast the dimension side of the loader's key-retrieval merge
        instead of letting the static planner pick SortMergeJoin —
        pinned appends carry no size statistics, so without the hint
        every key merge shuffles the *fact* side.  On by default
        (keyed tables are dimension tables in a star load); turn it off
        for dimensions too large to broadcast, and AQE re-plans small
        joins at runtime.
    partition_by:
        ``{table_name: [column, ...]}`` — physical partitioning for
        managed catalog tables (the 100 TB layout knob the reference's
        RDBMS sinks cannot express).  Fact tables partitioned by a
        low-cardinality column (date bucket, region) get partition
        pruning on every filtered scan and append-only writes touch only
        the partitions present in the payload.  Persisted in the
        sidecar JSON so reopened connectors keep appending partitioned.
        Ignored in temp-view mode (in-memory frames have no layout).
    bucket_by:
        ``{table_name: (n_buckets, [column, ...])}`` — hash bucketing
        (+ per-bucket sort) for managed catalog tables.  Two tables
        bucketed on the same join key co-locate at write time, so
        repeated post-load analytical joins run with ZERO runtime
        exchange — the shuffle is paid once, at append.  Persisted in
        the sidecar JSON like ``partition_by``; composable with it
        (partition dirs × hash buckets).  Ignored in temp-view mode.

    Notes
    -----
    The connector writes no session conf beyond the planning-only AQE
    toggle of its small-append pins.  The two session settings its plans
    were measured under (AQE's shuffled-hash-join conversion threshold
    and ``canChangeCachedPlanOutputPartitioning``) are the caller's to
    set; OPERATIONS.md "Session settings" gives their reasons.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        database: str | None = None,
        dtype_adapters: dict[str, tuple] | None = None,
        partition_by: dict[str, list[str]] | None = None,
        bucket_by: dict[str, tuple[int, list[str]]] | None = None,
        broadcast_dims: bool = True,
        recover: bool = True,
    ) -> None:
        self.spark = spark
        self.database = database
        self._broadcast_dims = broadcast_dims
        self.dtype_adapters = dtype_adapters or {}
        self.partition_by = partition_by or {}
        self.bucket_by = bucket_by or {}
        #: DDL-derived metadata per table
        self._meta: dict[str, ParsedTable] = {}
        #: committed content per table
        self._committed: dict[str, DataFrame] = {}
        #: uncommitted appends per table (in write order)
        self._appends: dict[str, list[DataFrame]] = {}
        #: committed union-chain depth per table (for periodic compaction)
        self._chain_depth: dict[str, int] = {}
        #: tables with a pending append left as a LAZY plan (fact path:
        #: no surrogate, no anti-join) — the in-memory commit pins these
        #: so post-commit reads materialize the plan once, not per read
        self._lazy_appends: set[str] = set()
        #: tables whose committed content is KNOWN empty (fresh DDL, no
        #: committed appends) — lets the write path skip the existing-side
        #: anti-join and the surrogate max-scan without running jobs.
        #: Conservative: catalog-loaded tables are never assumed empty.
        self._committed_empty: dict[str, bool] = {}
        self._in_tx = False
        #: highest durable commit id (managed mode)
        self._durable_max = 0
        #: {commit id: row token} for every durable commit; row token 0
        #: is the always-visible epoch of adopted/migrated rows
        self._visible: dict[int, int] = {0: 0}
        self._journal: _CommitJournal | None = None
        #: table location cache (managed mode; locations are immutable)
        self._locations: dict[str, str] = {}
        #: destination files each in-flight token has renamed into table
        #: directories — the commit failure path deletes exactly these
        self._token_files: dict[int, list[str]] = {}

        if database is not None:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
            self._init_commit_log()
            self._load_tables()
            # recover=False is the READ-SIDE open: the orphan sweep
            # cannot distinguish a crashed commit's leftovers from a
            # commit in flight RIGHT NOW (see _recover_orphans), so a
            # polling consumer or ad-hoc reader that reopens while
            # writers run must skip it — recovery is the job of writer
            # opens and the maintenance runbook (OPERATIONS.md)
            if recover:
                self._recover_orphans()

        self.schema = self.get_schema()
        self._register_views()

    # -- context manager / transaction ---------------------------------------

    def __enter__(self) -> Self:
        self._in_tx = True
        # BEGIN semantics: a transaction reads the state committed as of
        # its start.  Another connector on the same database may have
        # committed since this one opened — refresh the durable commit
        # set so anti-joins and surrogate max-id scans see those rows
        # (a driver-side journal listing, no Spark job).
        if self.database is not None:
            self._refresh_durable()
        return self

    def __exit__(self, exc_type: object, *exception: object) -> None:
        self._in_tx = False
        if exc_type is None:
            self.commit()
        else:
            self.rollback()

    def commit(self) -> None:
        """Promote pending appends to committed content.

        Managed-catalog mode commits ALL tables atomically via a
        manifest-commit protocol (the plain-Spark-tables restatement of
        how manifest-based table formats get multi-file atomicity, and
        the analogue of the reference's whole-block DB transaction,
        sqlite_connector.py:197-204): rows land tagged with a
        writer-unique token — invisible, because every read filters by
        the journal's published tokens — and the transaction becomes
        visible in ONE final step, an atomic journal-file rename
        (:meth:`_CommitJournal.commit`).  A crash before the flip
        leaves only invisible orphan rows (swept on the next connector
        open); a failure during the appends additionally triggers an
        immediate surgical sweep of this writer's own files.
        """
        pending = {t: a for t, a in self._appends.items() if a}
        if self.database is not None:
            if pending:
                try:
                    self._commit_managed(pending)
                except BaseException:
                    # a failed commit rolls back to the entry state —
                    # pending writes are discarded, matching the
                    # reference's whole-block rollback
                    self.rollback()
                    raise
        else:
            for table, appends in pending.items():
                self._committed_empty[table] = False
                new_rows = appends[0]
                for extra in appends[1:]:
                    new_rows = new_rows.unionByName(extra)
                # Keyed/constrained appends are already individually
                # pinned (localCheckpoint in _write_new_rows), so their
                # union is a shallow lineage over materialized
                # partitions — cheap to keep lazy; compaction at depth
                # 16 bounds plan size across many commits.  A table that
                # received a LAZY fact-path append gets a lazy pin HERE
                # instead: the first post-commit read materializes it
                # exactly once (never inside the load's critical path,
                # and never once per read).
                combined = self._committed[table].unionByName(new_rows)
                if table in self._lazy_appends:
                    combined = combined.localCheckpoint(eager=False)
                    depth = 0
                else:
                    depth = self._chain_depth.get(table, 0) + 1
                    if depth >= 16:
                        combined = combined.localCheckpoint(eager=True)
                        depth = 0
                self._chain_depth[table] = depth
                self._committed[table] = combined
        self._appends = {t: [] for t in self._meta}
        self._lazy_appends.clear()
        self._register_views()

    def _commit_managed(self, pending: dict[str, list[DataFrame]]) -> None:
        """Optimistic multi-writer commit.

        Rows land tagged with a writer-unique random token — appends
        from concurrent committers never collide, and no read sees an
        unpublished token.  The pending tables append concurrently, one
        worker thread per table (at most ``defaultParallelism``); each
        worker carries the caller's local properties (job group,
        description, scheduler pool) and session tags.  The durable flip
        is ONE atomic journal-file rename (:meth:`_CommitJournal.commit`)
        after every append has landed: of two simultaneous committers,
        each lands under its own commit id — the loser of a commit-id
        race just retries the rename with the next id, its appended data
        untouched.  A failure before the flip waits for every in-flight
        append, sweeps only THIS writer's token (from every pending
        table), and raises the first failure in table order, leaving
        concurrent in-flight commits alone.
        """
        import random

        token = random.SystemRandom().getrandbits(61) | _TOKEN_FLOOR
        # register the token's (empty) file record BEFORE any append so
        # a failure at ANY point — even before the first move — takes
        # the surgical own-files sweep, never the full-table overwrite
        # (which could clobber a concurrent writer's in-flight files)
        self._token_files.setdefault(token, [])
        # resolve every location before a worker starts: the appends
        # then only read the location cache
        roots = {t: self._table_location(t).rstrip("/") for t in pending}
        workers = min(len(pending), self.spark.sparkContext.defaultParallelism)
        try:
            with ThreadPoolExecutor(
                max_workers=workers, thread_name_prefix="commit-append"
            ) as pool:
                appends = [
                    pool.submit(
                        in_caller_context(self.spark, self._append_epoch),
                        table,
                        reduce(DataFrame.unionByName, frames),
                        token,
                    )
                    for table, frames in pending.items()
                ]
            # leaving the pool joined every append
            for append in appends:
                if (err := append.exception()) is not None:
                    raise err
        except BaseException:
            # best-effort immediate sweep of OWN files (surgical — the
            # recorded rename destinations, plus every pending table's
            # staging leftovers: several may have been mid-move);
            # open-time recovery covers a crash that prevents even this
            self._sweep_token(list(pending), token)
            raise
        # concurrent moves interleave in the token's file record, so
        # each table's entry is the files under its own root; a file
        # outside every root (path normalization surprise) skips the
        # manifest outright — the footer-walk fallback is always
        # correct, a wrong manifest never is
        moved = self._token_files[token]
        manifest_tables: dict[str, dict] | None = {
            table: {
                "location": root,
                "files": [
                    f[len(root) + 1 :] for f in moved if f.startswith(root + "/")
                ],
            }
            for table, root in roots.items()
        }
        if sum(len(e["files"]) for e in manifest_tables.values()) != len(moved):
            manifest_tables = None
        # record the commit's FILE MANIFEST beside the journal before
        # the claim (the cid is unknown until the claim lands; readers
        # join token -> cid through the commit file).  This is what
        # makes CDC planning O(commits in range): the streaming
        # partitions() and the batch table_changes scan read exactly
        # these files instead of walking the table directory and every
        # parquet footer.  Best-effort by contract — a missing manifest
        # only costs the fallback walk.
        if manifest_tables is not None:
            self._journal.put_manifest(
                token,
                json.dumps(
                    {
                        "manifest_version": 1,
                        "token": token,
                        "tables": manifest_tables,
                    }
                ),
            )
        # THE atomic flip: publish the token under the next free commit
        # id.  Until the rename lands, nothing above is visible to any
        # read (every read filters by published tokens).
        published, floor, _ = self._journal.state()
        cid = self._journal.commit(
            token,
            after=max(max(published, default=0), self._durable_max),
            floor=floor,
        )
        self._token_files.pop(token, None)
        # re-list AFTER the claim: a commit that landed during the
        # rename race (every claim conflict proves one exists) must
        # enter the visible set now — otherwise reads and time travel
        # would silently omit it until the next refresh
        published = self._journal.visible()
        published[cid] = token
        foreign = any(c not in self._visible for c in published if c != cid)
        self._visible.update(published)
        self._durable_max = max(self._visible)
        # rebuild EVERY table's view when concurrent commits surfaced
        # (they may touch tables outside this transaction)
        for table in self._meta if foreign else pending:
            self._committed_empty[table] = False
            self._committed[table] = self._committed_view(table)

    def rollback(self) -> None:
        """Discard pending appends — tables revert to the entry state."""
        self._appends = {t: [] for t in self._meta}
        self._lazy_appends.clear()
        self._register_views()

    # -- manifest-commit machinery (managed-catalog mode) ---------------------

    def _append_epoch(
        self, table: str, new_rows: DataFrame, token: int
    ) -> None:
        """Stage-and-move physical append (multi-writer-safe).

        ``saveAsTable(mode="append")`` is NOT safe under concurrent
        writers: every job writing one table path shares the Hadoop
        output committer's ``_temporary/0`` staging directory, and the
        first job to commit deletes it wholesale — destroying other
        writers' in-flight task files.  Delta/Iceberg solve this by
        bypassing the output committer for the table directory; this is
        the plain-Spark-tables restatement: write the batch to a
        token-unique staging location (underscore-prefixed, so every
        Spark directory scan ignores it), then RENAME the data files
        into the table directory.  Concurrent appends use disjoint
        staging paths and collision-free (job-UUID) file names, and the
        rows stay invisible regardless until the journal publishes the
        token.  Destination paths are recorded in ``_token_files`` AS
        they move, so the failure path deletes exactly this writer's
        files — never a rewrite, never another writer's data.
        """
        tagged = new_rows.withColumn(
            _COMMIT_COL, F.lit(int(token)).cast("bigint")
        )
        qualified = self._qualified(table)
        dest_root = self._table_location(table)
        moved = self._token_files.setdefault(token, [])
        if self.bucket_by.get(table):
            # bucketBy only writes through saveAsTable: stage to a
            # token-unique TABLE with the identical layout (bucket ids
            # are encoded in file-name suffixes and survive the move)
            stage = self._qualified(f"{table}__stage_{token}")
            writer = self._apply_layout(tagged.write.mode("overwrite"), table)
            writer.saveAsTable(stage)
            src_root = next(
                r.data_type
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {stage}"
                ).collect()
                if r.col_name == "Location"
            )
            _move_data_files(self.spark, src_root, dest_root, into=moved)
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        else:
            src_root = f"{dest_root}/_staging/{token}"
            writer = tagged.write.mode("overwrite")
            if parts := self.partition_by.get(table):
                writer = writer.partitionBy(*parts)
            writer.parquet(src_root)
            _move_data_files(self.spark, src_root, dest_root, into=moved)
            fs, path_cls = _hadoop_fs(self.spark, dest_root)
            fs.delete(path_cls(src_root), True)
        if self.partition_by.get(table):
            # manual file moves bypass catalog partition tracking
            self.spark.sql(f"MSCK REPAIR TABLE {qualified}")
        self.spark.catalog.refreshTable(qualified)

    def _table_location(self, table: str) -> str:
        """Filesystem location of a managed table (cached — immutable)."""
        loc = self._locations.get(table)
        if loc is None:
            loc = next(
                r.data_type
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {self._qualified(table)}"
                ).collect()
                if r.col_name == "Location"
            )
            self._locations[table] = loc
        return loc

    def _apply_layout(self, writer, table: str):  # noqa: ANN001, ANN202
        """Apply the table's persistent physical layout (disk
        partitioning and/or hash bucketing) to a managed-table writer."""
        if parts := self.partition_by.get(table):
            writer = writer.partitionBy(*parts)
        if spec := self.bucket_by.get(table):
            n_buckets, cols = spec
            writer = writer.bucketBy(int(n_buckets), *cols).sortBy(*cols)
        return writer

    def _refresh_durable(self) -> None:
        """Re-list the commit log (a driver-side metadata op — no Spark
        job); on new commits, rebuild committed views."""
        published = self._journal.visible()
        if any(cid not in self._visible for cid in published):
            self._visible.update(published)
            self._durable_max = max(self._visible)
            for table in self._meta:
                # the new commits may be ANOTHER process's — drop this
                # session's cached file listing so the committed view
                # actually reads the files that process renamed in
                self.spark.catalog.refreshTable(self._qualified(table))
                self._committed[table] = self._committed_view(table)
                self._committed_empty[table] = False
            self._register_views()

    def _init_commit_log(self) -> None:
        self._journal = _CommitJournal(self.spark, self.database)
        visible, floor, _intent = self._journal.state()
        # legacy databases (pre-file-journal) recorded commits as rows of
        # a journal TABLE with token == epoch; fold them in read-only —
        # but never below the vacuum floor: those epochs' rows were
        # folded into token 0, and resurrecting their ids here would
        # make commit_history() list vacuumed commits and a later
        # vacuum re-derive its horizon from them.
        legacy = self._qualified(_JOURNAL)
        if self.spark.catalog.tableExists(legacy):
            for r in self.spark.table(legacy).collect():
                cid = r["commit_id"]
                if cid > floor:
                    self._visible.setdefault(cid, cid)
        self._visible.update(visible)
        self._durable_max = max(self._visible)

    def _visible_tokens(self, upper: int | None = None) -> list[int]:
        """Row tokens of every durable commit with id ≤ *upper*."""
        bound = self._durable_max if upper is None else upper
        return [t for cid, t in self._visible.items() if cid <= bound]

    def _visible_where(
        self, frame: DataFrame, upper: int | None = None
    ) -> DataFrame:
        """Filter *frame* to rows of durable commits.

        Small histories inline the token set (Catalyst turns >10
        literals into an O(1)-per-row ``InSet``); long-lived databases
        with thousands of commits would pay plan-size linear in history,
        so above a threshold the filter becomes a broadcast semi-join
        against a token DataFrame — constant plan size, still no
        shuffle of the data side.  (`compact_table` is the real fix:
        it folds history back down.)
        """
        tokens = self._visible_tokens(upper)
        if len(tokens) <= _TOKEN_INLINE_LIMIT:
            return frame.where(F.col(_COMMIT_COL).isin(tokens))
        tok_df = local_frame(
            self.spark, [(t,) for t in tokens], f"`{_COMMIT_COL}` BIGINT"
        )
        return frame.join(F.broadcast(tok_df), _COMMIT_COL, "left_semi")

    def _committed_view(
        self, table: str, upper: int | None = None
    ) -> DataFrame:
        """The durable content of a managed table as of commit *upper*
        (default: the latest durable commit): token-filtered, hidden
        column dropped.  (Legacy tables without the column pass through.)"""
        frame = self.spark.table(self._qualified(table))
        if _COMMIT_COL not in frame.columns:
            return frame
        return self._visible_where(frame, upper).drop(_COMMIT_COL)

    def commit_history(self) -> list[int]:
        """Durable commit epochs, oldest first (managed-catalog mode).

        The manifest journal doubles as a commit log: every epoch it
        records is a consistent multi-table snapshot boundary, so the
        history is free — no extra bookkeeping beyond the atomic-commit
        protocol itself.
        """
        if self.database is None:
            msg = "commit_history requires database (managed-catalog) mode."
            raise ValueError(msg)
        self._refresh_durable()
        return sorted(cid for cid in self._visible if cid != 0)

    def read_table_as_of(self, table: str, commit_id: int) -> DataFrame:
        """Snapshot read: *table*'s content as of durable *commit_id*.

        Time travel falls out of the manifest-commit design (the same
        way table formats with manifest logs get it): rows carry the
        epoch that committed them and reads filter by it, so a
        consistent PAST snapshot is just a smaller epoch bound — across
        ALL tables of the transaction, since the epoch flip was atomic.
        ``commit_id=0`` reads the pre-first-commit state (adopted /
        migrated rows — after a :meth:`vacuum_commits`, also every
        folded commit: the vacuumed-base snapshot).  Append-only
        history: epochs are never rewritten outside crash recovery and
        vacuum, so retained snapshots are stable.
        """
        if self.database is None:
            msg = "read_table_as_of requires database (managed-catalog) mode."
            raise ValueError(msg)
        if table not in self._meta:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        # intent covers a vacuum in flight: refusing here is what makes
        # a mid-retag snapshot read an ERROR instead of silently wrong
        _, floor, bound = self._journal.state()
        if bound > floor and commit_id <= bound:
            # mid-vacuum (or crashed, not yet recovered): even the
            # commit-0 base is in flux — some tables retagged, some not
            msg = (
                f"a vacuum through commit {bound} is in progress; "
                f"snapshots at or below it (including the base) are "
                "unreadable until it completes (reopen a connector to "
                "complete a crashed one)."
            )
            raise ValueError(msg)
        if 0 < commit_id <= bound:
            msg = (
                f"commit_id {commit_id} was vacuumed (retention "
                f"horizon: {bound}); only commit 0 (the vacuumed base) "
                "and ids above the horizon are readable."
            )
            raise ValueError(msg)
        if commit_id > self._durable_max:
            # another connector may have committed since this one last
            # looked — consult the journal before rejecting, so any
            # epoch commit_history() returns is always readable
            self._refresh_durable()
        if commit_id > self._durable_max:
            msg = (
                f"commit_id {commit_id} is not durable yet "
                f"(latest: {self._durable_max})."
            )
            raise ValueError(msg)
        return self._decode_adapters(
            self._committed_view(table, upper=commit_id)
        )

    def table_changes(
        self, table: str, from_commit: int, to_commit: int | None = None
    ) -> DataFrame:
        """CDC read: the rows added to *table* by every durable commit
        in ``(from_commit, to_commit]`` (default: through the latest),
        with ``_commit_id`` (the commit that added each row) and
        ``_change_type`` (always ``'insert'`` — the sink is
        insert-only by contract, so a changes feed never carries
        updates or deletes; vacuum folds history, it does not delete
        content).

        This is the incremental-consumer primitive (Delta CDF /
        ``table_changes``, Iceberg incremental scan): a downstream job
        that processed through commit N asks for ``(N, head]`` and
        touches ONLY the new rows.  Because every row already carries
        the epoch that committed it, the diff is a commit-range FILTER
        on the scan — O(new data) with a pushable predicate for short
        ranges — never an ``EXCEPT`` between two snapshots, which
        would read both full snapshots and shuffle them at 100 TB.

        ``from_commit`` must be at or above the vacuum horizon (or 0
        on a never-vacuumed database): rows of folded commits were
        retagged into the base, so a range reaching below the horizon
        would silently under-report — it errors instead.
        """
        if self.database is None:
            msg = "table_changes requires database (managed-catalog) mode."
            raise ValueError(msg)
        if table not in self._meta:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        if from_commit < 0:
            msg = f"from_commit must be >= 0, got {from_commit}."
            raise ValueError(msg)
        _, floor, bound = self._journal.state()
        if from_commit < bound:
            if bound > floor:
                msg = (
                    f"a vacuum through commit {bound} is in progress; "
                    f"changes starting below it are unreadable until "
                    "it completes (reopen a connector to complete a "
                    "crashed one)."
                )
            else:
                msg = (
                    f"commits at or below {bound} were vacuumed into "
                    f"the base; changes from {from_commit} are no "
                    f"longer per-commit (start from {bound}, or read "
                    "the base snapshot with read_table_as_of(table, 0))."
                )
            raise ValueError(msg)
        self._refresh_durable()
        if to_commit is None:
            to_commit = self._durable_max
        if to_commit > self._durable_max:
            msg = (
                f"to_commit {to_commit} is not durable yet "
                f"(latest: {self._durable_max})."
            )
            raise ValueError(msg)
        if to_commit <= from_commit:
            msg = (
                f"empty or inverted range: ({from_commit}, {to_commit}]."
            )
            raise ValueError(msg)
        frame = self.spark.table(self._qualified(table))
        if _COMMIT_COL not in frame.columns:
            msg = (
                f"table '{table}' carries no per-row commit epochs "
                "(legacy/adopted layout); changes feeds need the "
                "managed write path."
            )
            raise ValueError(msg)
        # commit ids are user-facing; row tokens are the physical tags
        # (they differ after crash recovery adopts a claimed token)
        pairs = [
            (tok, cid)
            for cid, tok in self._visible.items()
            if from_commit < cid <= to_commit and cid != 0
        ]
        # manifest fast path: when every commit in the range recorded
        # its file manifest (r15+ journals), scan EXACTLY those files —
        # planning cost O(commits in range), not O(table files); a
        # range whose commits touched only other tables scans nothing
        scan = self._manifest_scan(table, [t for t, _ in pairs])
        if scan is not None:
            frame = scan
        if len(pairs) <= _TOKEN_INLINE_LIMIT:
            # short range: an In-filter the scan can push, then a
            # literal token→commit CASE (plan-size linear in the RANGE,
            # not the history — incremental consumers ask for short
            # ranges by construction)
            cond = F.col(_COMMIT_COL).isin([t for t, _ in pairs])
            cid_col: F.Column = F.lit(None).cast("bigint")
            for tok, cid in pairs:
                cid_col = F.when(
                    F.col(_COMMIT_COL) == tok, F.lit(cid)
                ).otherwise(cid_col)
            out = frame.where(cond).withColumn(
                "_commit_id", cid_col.cast("bigint")
            )
        else:
            tok_df = local_frame(
                self.spark, pairs, f"`{_COMMIT_COL}` BIGINT, _commit_id BIGINT"
            )
            out = frame.join(F.broadcast(tok_df), _COMMIT_COL, "inner")
        return self._decode_adapters(
            out.drop(_COMMIT_COL).withColumn(
                "_change_type", F.lit("insert")
            )
        )

    def _manifest_scan(
        self, table: str, tokens: list[int]
    ) -> DataFrame | None:
        """A frame over exactly the files the given commits' manifests
        name for *table* — the O(commits in range) plan for a changes
        read — or None to fall back to the full catalog-table scan
        (:func:`_manifest_files` says when)."""
        loc = self._table_location(table).rstrip("/")
        fs, path_cls = _hadoop_fs(self.spark, loc)
        paths = _manifest_files(
            self._journal._read,
            lambda p: fs.exists(path_cls(p)),
            table,
            loc,
            tokens,
        )
        if paths is None:
            return None
        schema = self.spark.table(self._qualified(table)).schema
        if not paths:
            # every commit in the range touched only other tables: a
            # statically-empty frame with the physical schema — no scan
            # at all, and downstream plans can fold the branch away
            return empty_frame(self.spark, schema)
        # explicit schema: partition columns resolve from the Hive
        # directory names under basePath, and files written before an
        # ALTER TABLE ADD COLUMN null-fill — the same semantics as the
        # catalog-table scan
        return (
            self.spark.read.schema(schema)
            .option("basePath", loc)
            .parquet(*paths)
        )

    def compact_table(
        self,
        table: str,
        target_partitions: int | None = None,
        *,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int | None = None,
    ) -> None:
        """Rewrite a managed table once to consolidate small files.

        Append-only commits are the right write path (never rewrite the
        100 TB table per transaction), but each commit lands at least
        one file per partition — after thousands of commits the file
        count, not the byte count, dominates scan planning time.  This
        is the standard manifest-table maintenance operation (Delta
        ``OPTIMIZE``, Iceberg ``rewrite_data_files``): one
        stage-then-swap rewrite (crash-safe, see
        :meth:`_overwrite_table`) that preserves the physical layout,
        the hidden commit epochs (time travel keeps working), and drops
        any never-durable orphan rows.  ``target_partitions``
        repartitions the rewrite (e.g. total_bytes / 128 MB); default
        keeps the scan's natural partitioning.

        ``sort_by`` clusters the rewrite: range-partition on the
        columns, sort within partitions, so each parquet file covers a
        narrow min/max range of the sort keys and filtered scans SKIP
        files wholesale via footer statistics — the difference between
        reading one file and reading all of them for a point/range
        predicate at 100 TB.  Not combinable with a bucketed layout
        (buckets own their sort).

        ``zorder_by`` is the multi-dimensional version (Delta
        ``OPTIMIZE ZORDER BY``): cluster on the Morton-interleaved key
        (:func:`~sql_autoloader_spark.functions.scale.zorder_value`),
        so every file covers a narrow range of EVERY listed column and
        predicates on any of them prune — a lexicographic ``sort_by``
        only ever prunes on its leading column.  Mutually exclusive
        with ``sort_by``; same bucketed-layout restriction.
        ``zorder_bits`` overrides the per-column bucket resolution
        (default: 8, shrunk automatically so ``bits × columns`` fits a
        bigint).

        Requires no pending appends (compact between transactions) and
        managed-catalog mode; the in-memory sink compacts its union
        chain automatically.  Single-writer: run maintenance in a
        window without concurrent committers (like every table
        format's rewrite op).
        """
        if self.database is None:
            msg = "compact_table requires database (managed-catalog) mode."
            raise ValueError(msg)
        if table not in self._meta:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        if self._appends.get(table):
            msg = (
                f"table '{table}' has uncommitted appends; commit or "
                "rollback before compacting."
            )
            raise RuntimeError(msg)
        if sort_by and zorder_by:
            msg = "sort_by and zorder_by are mutually exclusive."
            raise ValueError(msg)
        if (sort_by or zorder_by) and self.bucket_by.get(table):
            msg = (
                f"table '{table}' is bucketed; bucket layout already "
                "owns the sort order — drop sort_by/zorder_by."
            )
            raise ValueError(msg)
        # consult the journal first: another connector may have
        # committed since this one last looked — compacting with a
        # stale visible set would DELETE its durable rows as orphans
        self._refresh_durable()
        frame = self.spark.table(self._qualified(table))
        if _COMMIT_COL in frame.columns:
            frame = self._visible_where(frame)
        cluster = None
        drop_after: list[str] | None = None
        if zorder_by:
            from sql_autoloader_spark.functions.scale import zorder_value

            # quantization bounds come from the VISIBLE frame (one tiny
            # agg); the z key rides through staging and is dropped from
            # the final write after shaping it.  Default bits shrink
            # automatically so any column count fits a bigint.
            bits = (
                zorder_bits
                if zorder_bits is not None
                else max(1, min(8, 63 // len(zorder_by)))
            )
            frame = frame.withColumn(
                "__zorder",
                zorder_value(frame, list(zorder_by), bits=bits),
            )
            sort_by = ["__zorder"]
            drop_after = ["__zorder"]
        if sort_by:
            n = (
                int(target_partitions)
                if target_partitions is not None
                else frame.rdd.getNumPartitions()
            )
            # the clustering must shape the FINAL write, not the staging
            # copy: the final write re-scans staging with size-ordered
            # file packing, which would concatenate range-disjoint
            # staging files into range-overlapping output files —
            # _overwrite_table applies this to the staged scan
            cluster = (max(n, 1), list(sort_by))
        elif target_partitions is not None:
            frame = frame.repartition(int(target_partitions))
        self._overwrite_table(
            table, frame, cluster=cluster, drop_after=drop_after
        )
        self._committed[table] = self._committed_view(table)
        self._register_view(table)

    def recover_staging(self, table: str, *, force: bool = False) -> int:
        """Restore *table* from a crashed rewrite's staging copy.

        ``_overwrite_table`` (compaction, vacuum fold, migration) writes
        the table's full content to ``<table>__recovery_staging`` before
        rewriting the target; a crash between the two can leave the
        target dropped or partial while the staging copy is complete.
        ``_load_tables`` warns when it finds one — this is the
        actionable follow-up: move the staging copy aside, rewrite the
        target from it (the normal crash-safe rewrite), and clean up.
        Returns the number of restored VISIBLE rows.

        Refuses when the target still reads non-empty (the crash may
        have happened before any damage) unless ``force=True``.
        Idempotent across its own crashes: a re-run resumes from the
        moved-aside copy.  Single-writer, like every rewrite.
        """
        if self.database is None:
            msg = "recover_staging requires database (managed-catalog) mode."
            raise ValueError(msg)
        if table not in self._meta:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        db_loc = self._db_location()
        fs, path_cls = _hadoop_fs(self.spark, db_loc)
        src = self._table_dir(db_loc, f"{table}__recovery_staging")
        aside = f"{src}__restoring"
        have_src = fs.exists(path_cls(src))
        have_aside = fs.exists(path_cls(aside))
        if not have_src and not have_aside:
            msg = f"no recovery staging copy exists for '{table}'."
            raise RuntimeError(msg)
        if not force:
            try:
                n_target = self._committed_view(table).count()
            except Exception:  # noqa: BLE001 — unreadable target IS the
                n_target = 0  # scenario this op exists for
            if n_target > 0:
                msg = (
                    f"table '{table}' still reads {n_target} rows; the "
                    "crashed rewrite may not have damaged it.  Inspect, "
                    "then pass force=True to replace its content from "
                    "the staging copy."
                )
                raise RuntimeError(msg)
        if have_src:
            # move the copy OUT of the staging path first: the rewrite
            # below clears <table>__recovery_staging before writing
            fs.delete(path_cls(aside), True)
            fs.rename(path_cls(src), path_cls(aside))
        # a same-session crash may have left the staging catalog entry;
        # its directory is already moved, so the DROP removes only the
        # entry, never the copy
        self.spark.sql(
            f"DROP TABLE IF EXISTS "
            f"{self._qualified(table + '__recovery_staging')}"
        )
        content = self.spark.read.parquet(aside)
        # project to the table's declared schema (+ the hidden commit
        # column): a rewrite that crashed mid-ZORDER parked its staging
        # copy WITH the synthetic __zorder key still attached (the drop
        # happens on the final write) — restoring it verbatim would
        # bake the shaping column into the table's permanent schema
        declared = {c for c, _t in self._meta[table].column_types}
        declared.add(_COMMIT_COL)
        content = content.select(
            *[c for c in content.columns if c in declared]
        )
        self._overwrite_table(table, content)
        fs.delete(path_cls(aside), True)
        self._committed[table] = self._committed_view(table)
        self._register_view(table)
        self._committed_empty[table] = False
        return self._committed[table].count()

    def vacuum_commits(self, *, retain_last: int) -> None:
        """Fold history older than the newest *retain_last* commits into
        the always-visible base (token 0) and delete their journal files.

        The retention operation every manifest-log format needs (Delta
        ``VACUUM`` + log retention, Iceberg ``expire_snapshots``):
        without it the commit log — and the token set every read
        filters by — grows forever.  Folded rows are NOT deleted; they
        are re-tagged as token 0, so current reads see identical
        content and ``read_table_as_of(0)`` becomes the vacuumed-base
        snapshot.  Time travel to folded ids raises; retained ids keep
        working.  Crash-safe ordering: an INTENT marker lands first
        (time travel at or below the horizon errors from that moment —
        never returns a half-folded snapshot), tables are re-tagged
        (old-token and token-0 rows are BOTH visible throughout, so
        current reads never waver), the floor marker lands once, and
        only then are journal files deleted; a crashed vacuum is
        completed at the next connector open.

        Concurrency: the JOURNAL side is concurrent-writer safe — a
        writer whose claim collides with a commit file this vacuum
        deletes re-reads the floor and jumps past it, and the fold
        retags only the folded tokens, so rows of a not-yet-published
        concurrent commit pass through the rewrite untouched (pinned
        by tests/test_catalog_persistence.py and the cross-process
        suite).  The TABLE rewrite itself is still one
        ``_overwrite_table`` per table: a writer renaming files into
        the directory between this vacuum's staging scan and its final
        write can lose those files — run vacuum from a single
        maintenance process, like :meth:`compact_table`.
        """
        if self.database is None:
            msg = "vacuum_commits requires database (managed-catalog) mode."
            raise ValueError(msg)
        if retain_last < 0:
            msg = "retain_last must be >= 0."
            raise ValueError(msg)
        if any(self._appends.get(t) for t in self._meta):
            msg = "uncommitted appends; commit or rollback before vacuum."
            raise RuntimeError(msg)
        self._refresh_durable()
        cids = sorted(c for c in self._visible if c != 0)
        folded = cids[: max(0, len(cids) - retain_last)]
        if not folded:
            return
        horizon = folded[-1]
        self._journal.set_intent(horizon)
        self._fold_through(horizon)

    def _fold_through(self, horizon: int) -> None:
        """Re-tag commits ≤ *horizon* into token 0 and advance the
        floor — the body of a vacuum, also replayed at open to complete
        a crashed one (idempotent: already-retagged rows are token 0,
        which maps to itself)."""
        folded_tokens = [
            t for c, t in self._visible.items() if 0 < c <= horizon
        ]
        # nothing to retag (recovery of a fully-applied fold): still
        # advance the floor below, which clears the intent marker
        for table in self._meta if folded_tokens else []:
            frame = self.spark.table(self._qualified(table))
            if _COMMIT_COL not in frame.columns:
                continue
            token = F.col(_COMMIT_COL)
            # cheap pre-check (scan ≪ rewrite): a table with no rows
            # in the folded commits needs no rewrite at all
            n = frame.agg(
                F.count(F.when(token.isin(folded_tokens), 1)).alias("n")
            ).first()["n"]
            if n == 0:
                continue
            # retag ONLY the folded tokens; unknown tokens pass through
            # untouched — they are either a concurrent writer's not-yet-
            # published commit (dropping them here would lose its rows
            # the moment it publishes) or a crashed commit's orphans,
            # which belong to _recover_orphans/_sweep_orphans, not to
            # vacuum.  Unknown tokens stay invisible either way.
            retagged = frame.withColumn(
                _COMMIT_COL,
                F.when(token.isin(folded_tokens), F.lit(0).cast("bigint"))
                .otherwise(token),
            )
            self._overwrite_table(table, retagged)
        self._journal.set_floor(horizon)
        self._visible = {
            c: t for c, t in self._visible.items() if c == 0 or c > horizon
        }
        for table in self._meta:
            self._committed[table] = self._committed_view(table)
        self._register_views()

    def analyze_tables(
        self, tables: list[str] | None = None, *, columns: bool = True
    ) -> None:
        """Compute table + column statistics for Catalyst's cost-based
        optimizer (``ANALYZE TABLE … COMPUTE STATISTICS [FOR ALL
        COLUMNS]``).

        At warehouse scale CBO join reordering, broadcast decisions,
        and semi-join selectivity all read catalog statistics
        (rowCount / sizeInBytes / per-column NDV+min/max); append-only
        commits do not maintain them, so run this with the other
        maintenance ops (:meth:`compact_table`) after large loads.
        Plan effect pinned by tests/test_catalog_persistence.py::
        test_analyze_tables_changes_join_strategy: with
        ``spark.sql.cbo.enabled``, column stats flip a selective-filter
        join from SortMergeJoin to BroadcastHashJoin.  Plans read stats
        at resolution time — re-resolve (``refreshTable`` + fresh
        ``spark.table``) after analyzing.
        Stats are computed over the physical table (including any
        not-yet-visible tokens) — they are optimizer estimates, not
        semantics, so the approximation is the standard one.
        """
        if self.database is None:
            msg = "analyze_tables requires database (managed-catalog) mode."
            raise ValueError(msg)
        for table in tables if tables is not None else list(self._meta):
            if table not in self._meta:
                msg = f"table '{table}' does not exist in the Spark catalog sink."
                raise KeyError(msg)
            suffix = " FOR ALL COLUMNS" if columns else ""
            self.spark.sql(
                f"ANALYZE TABLE {self._qualified(table)} "
                f"COMPUTE STATISTICS{suffix}"
            )

    def _recover_orphans(self) -> None:
        """Sweep rows a crashed commit left behind (token never
        published).

        They were never visible — reads filter by published tokens —
        so this is storage hygiene, not correctness.  One small
        aggregate over all tables at connector open; file deletions
        only happen after an actual crash.

        OPEN-TIME CAVEAT: this sweep cannot distinguish a crashed
        commit's leftovers from another connector's commit that is
        in-flight RIGHT NOW — opening a new connector on a database
        while another is mid-commit may sweep the live commit's rows
        before its token publishes.  Concurrent *commits* are safe
        (each failure path sweeps only its own token; the journal
        rename is atomic); concurrent commit-while-opening is not —
        open connectors before starting writers, or skip recovery by
        reusing a long-lived connector.
        """
        # a crashed vacuum left its intent above the floor: complete the
        # fold (idempotent — already-retagged rows are token 0, which
        # maps to itself; time travel under the horizon has been
        # refusing since the intent landed, so no read ever saw a
        # half-folded snapshot)
        _, floor, intent = self._journal.state()
        if intent > floor:
            import logging

            logging.getLogger("sql_autoloader_spark").warning(
                "completing a crashed vacuum through commit %d", intent
            )
            self._fold_through(intent)
        # stale tmp-<token> claim files: a writer killed inside
        # _CommitJournal.commit — before the claim, or after a landed
        # link(2) but before the bookkeeping delete — leaves its temp
        # behind forever (vacuum deletes only *.commit/*.floor/
        # *.vacuuming).  Same open-time caveat as the row sweep below.
        self._journal.sweep_temps()
        # stale metadata-persist tmps: a process killed inside
        # _persist_table_meta leaves its uuid-suffixed
        # <table>.json.tmp-<uuid> behind (plus the pre-uuid shared
        # "<table>.json.tmp" from older writers).  AGE-GUARDED, unlike
        # the claim-tmp sweep: another connector may be opening right
        # now and its in-flight tmp must not be yanked mid-move — a
        # live persist lasts milliseconds, so only hour-old tmps (and
        # their CRC sidecars) are certainly crash debris.
        import time

        fs, path_cls = _hadoop_fs(self.spark, self._meta_dir())
        meta_root = path_cls(self._meta_dir())
        if fs.exists(meta_root):
            cutoff_ms = (time.time() - 3600) * 1000
            for status in fs.listStatus(meta_root):
                tmp_name = status.getPath().getName()
                if (
                    ".json.tmp" in tmp_name
                    and status.getModificationTime() < cutoff_ms
                ):
                    fs.delete(status.getPath(), False)
        # crashed staged appends: token-unique stage tables / _staging
        # dirs that never finished moving (driver-side metadata cleanup)
        for row in self.spark.sql(f"SHOW TABLES IN {self.database}").collect():
            if "__stage_" in row.tableName and not row.isTemporary:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._qualified(row.tableName)}"
                )
        # ...and the token-unique __stage_ DIRECTORIES another
        # process's crash left behind with no entry in this session's
        # catalog (a fresh driver can never DROP those) — they just
        # leak storage.  Same open-time caveat as the row sweep above:
        # open connectors before starting writers.  Deliberately NOT
        # swept here: __recovery_staging dirs — a crashed rewrite's
        # staging copy may be the only surviving content of its table
        # (see the _load_tables warning); the next rewrite on
        # that table clears it in place instead.
        fs, path_cls = _hadoop_fs(self.spark, self._db_location())
        db_root = path_cls(self._db_location())
        if fs.exists(db_root):
            for status in fs.listStatus(db_root):
                name = status.getPath().getName()
                if "__stage_" in name and not self.spark.catalog.tableExists(
                    self._qualified(name)
                ):
                    fs.delete(status.getPath(), True)
        for table in self._meta:
            loc = self._table_location(table)
            fs, path_cls = _hadoop_fs(self.spark, loc)
            fs.delete(path_cls(f"{loc}/_staging"), True)
        # ONE aggregate over every table's unpublished rows names the
        # tables holding orphans; only those go on to the per-file sweep
        orphan = ~F.col(_COMMIT_COL).isin(self._visible_tokens())
        frames = {t: self.spark.table(self._qualified(t)) for t in self._meta}
        unpublished = [
            frame.where(orphan).select(F.lit(table).alias("table"))
            for table, frame in frames.items()
            if _COMMIT_COL in frame.columns
        ]
        if unpublished:
            rows = reduce(DataFrame.unionByName, unpublished).distinct()
            dirty = {r["table"] for r in rows.collect()}
            self._sweep_orphans([t for t in self._meta if t in dirty])

    def _sweep_token(self, tables: list[str], token: int) -> None:
        """Drop a failed commit's own rows: delete exactly the files its
        *token* renamed into *tables* (``_commit_managed`` records them
        before the first append), plus any staging leftovers.  No scan
        and no table rewrite, so a concurrent writer's in-flight
        appends are never touched."""
        fs = path_cls = None
        for f in self._token_files.pop(token, []):
            if fs is None:
                fs, path_cls = _hadoop_fs(self.spark, f)
            fs.delete(path_cls(f), False)
        for table in tables:
            # leftovers of a mid-append failure: a token staging
            # dir and/or stage table that never finished moving
            stage = self._qualified(f"{table}__stage_{token}")
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
            loc = self._table_location(table)
            fs, path_cls = _hadoop_fs(self.spark, loc)
            fs.delete(path_cls(f"{loc}/_staging/{token}"), True)
            self.spark.catalog.refreshTable(self._qualified(table))
            self._committed[table] = self._committed_view(table)

    def _sweep_orphans(self, tables: list[str]) -> None:
        """Drop the never-published rows of *tables* (open-time
        recovery of a crashed commit)."""
        orphan = ~F.col(_COMMIT_COL).isin(self._visible_tokens())
        for table in tables:
            qualified = self._qualified(table)
            frame = self.spark.table(qualified)
            # Appends land whole files under ONE token, and rewrites
            # only ever write visible rows — so orphan files are
            # token-pure: sweep by DELETING exactly those files.  No
            # table rewrite (at 100 TB an overwrite would rewrite the
            # entire table to drop a few crashed-append files) and no
            # managed-table recreation (which fails for adopted
            # external-location tables in a FRESH process — the
            # round-12 SIGKILL-recovery test caught exactly that).  A
            # mixed file would violate the invariant: degrade to the
            # visible-rows rewrite, never delete it.
            per_file = (
                frame.select(
                    F.col("_metadata.file_path").alias("__f"),
                    orphan.alias("__o"),
                )
                .groupBy("__f")
                .agg(
                    F.min("__o").alias("__all_orphan"),
                    F.max("__o").alias("__any_orphan"),
                )
                .collect()
            )
            doomed = [r["__f"] for r in per_file if r["__all_orphan"]]
            mixed = any(
                r["__any_orphan"] and not r["__all_orphan"] for r in per_file
            )
            if mixed:  # pragma: no cover - invariant violation fallback
                self._overwrite_table(table, frame.where(~orphan))
            else:
                fs = path_cls = None
                for f in doomed:
                    if fs is None:
                        fs, path_cls = _hadoop_fs(self.spark, f)
                    fs.delete(path_cls(f), False)
                self.spark.catalog.refreshTable(qualified)
            self._committed[table] = self._committed_view(table)

    def _overwrite_table(
        self,
        table: str,
        content: DataFrame,
        *,
        cluster: tuple[int, list[str]] | None = None,
        drop_after: list[str] | None = None,
    ) -> None:
        """Physically replace a managed table (recovery/migration only —
        never part of a normal commit).

        Stage-then-swap: *content* reads the very table being
        overwritten, so it is first written to a durable staging table
        and the target is then rewritten FROM the staging scan.  A
        localCheckpoint pin here would be fatal on a real cluster — its
        partitions live only in executor storage and are not
        recomputable once the source table is dropped, so an executor
        loss mid-rewrite would destroy the table.  The staging table is
        ordinary on-disk data: any failure leaves either the old target
        or a complete staging copy to retry from.

        ``cluster=(n, cols)`` range-partitions + sorts the FINAL write
        (sorted compaction): it must shape the write that produces the
        table's files — pre-sorting *content* would be undone by the
        staging re-scan's size-ordered file packing.
        """
        staging = self._qualified(f"{table}__recovery_staging")
        self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
        # a rewrite CRASHED in another process leaves the staging
        # DIRECTORY with no entry in THIS session's catalog — the DROP
        # above can't see it, and recreating a managed table over a
        # non-empty location fails.  Rewrites are single-writer, so an
        # existing staging dir here is always such a leftover: clear it.
        if self.database is not None:
            db_loc = self._db_location()
            fs, path_cls = _hadoop_fs(self.spark, db_loc)
            staging_dir = self._table_dir(db_loc, f"{table}__recovery_staging")
            fs.delete(path_cls(staging_dir), True)
        content.write.mode("overwrite").saveAsTable(staging)
        staged = self.spark.table(staging)
        if cluster is not None:
            n, sort_cols = cluster
            cols = [F.col(f"`{c}`") for c in sort_cols]
            staged = staged.repartitionByRange(n, *cols)
            staged = staged.sortWithinPartitions(*cols)
        if drop_after:
            # synthetic shaping keys (z-order) ride through staging and
            # the sort, but must not land in the final schema; a plain
            # projection preserves the within-partition order
            staged = staged.drop(*drop_after)
        # Pin the rewrite to the table's EXISTING location and recreate
        # it as an external-location entry there.  A bare overwrite-
        # saveAsTable only works for tables this session created as
        # managed: for a table ADOPTED from another process (external
        # location, _load_tables) the drop keeps the files
        # and the managed re-create refuses the non-empty location.
        # DROP + clear + external create is uniform for both; _drop_table
        # already deletes data files explicitly for the same reason.
        loc = self._table_location(table)
        self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(table)}")
        fs, path_cls = _hadoop_fs(self.spark, loc)
        fs.delete(path_cls(loc), True)
        writer = self._apply_layout(staged.write.mode("overwrite"), table)
        writer.option("path", loc).saveAsTable(self._qualified(table))
        self.spark.sql(f"DROP TABLE IF EXISTS {staging}")

    # -- DDL / metadata -------------------------------------------------------

    def execute_ddl(self, script: str) -> None:
        """Run a DDL script: CREATE TABLE, ALTER TABLE ADD COLUMN, DROP
        TABLE — then re-register metadata.

        The reference passes DDL straight to the DB cursor and
        re-introspects (connector.py:167-173); here the same script is
        parsed for PK/FK/UNIQUE structure (Spark's catalog stores none of
        it), tables are created empty, ADD COLUMN widens metadata plus
        the physical table (metadata-only in managed mode — no rewrite,
        existing rows read NULL), and DROP removes the table everywhere.
        """
        for action in parse_script_actions(script):
            if isinstance(action, ParsedTable):
                self._create_table(action)
            elif isinstance(action, AlterAddColumn):
                self._alter_add_column(action)
            else:
                self._drop_table(action)
        self.update_schema()
        self._register_views()

    def _alter_add_column(self, action: AlterAddColumn) -> None:
        meta = self._meta.get(action.table)
        if meta is None:
            msg = f"ALTER TABLE: unknown table '{action.table}'."
            raise InvalidTableError(msg)
        if any(c == action.column for c, _t in meta.column_types):
            msg = (
                f"ALTER TABLE {action.table}: column '{action.column}' "
                "already exists."
            )
            raise InvalidTableError(msg)

        meta.column_types.append((action.column, action.spark_type))
        if action.not_null:
            meta.not_null.append(action.column)
        if action.reference is not None:
            to_table, to_key = action.reference
            meta.foreign_keys.append(action.column)
            meta.references.append((action.column, to_table, to_key))
        else:
            if action.unique:
                meta.unique_constraints.append([action.column])
            meta.payload_columns.append(action.column)

        null_col = F.lit(None).cast(action.spark_type)
        if self.database is not None:
            # metadata-only widen — NO rewrite; existing parquet rows
            # read the new column as NULL.  (Appends resolve columns by
            # name, so the epoch column's physical position is harmless.)
            self.spark.sql(
                f"ALTER TABLE {self._qualified(action.table)} "
                f"ADD COLUMNS (`{action.column}` {action.spark_type})"
            )
            self._persist_table_meta(meta)
            self._committed[action.table] = self._committed_view(action.table)
        else:
            self._committed[action.table] = self._committed[
                action.table
            ].withColumn(action.column, null_col)
        # widen any pending appends so reads stay union-compatible
        self._appends[action.table] = [
            a.withColumn(action.column, null_col)
            for a in self._appends.get(action.table, [])
        ]
        self._register_view(action.table)

    def _drop_table(self, action: DropTable) -> None:
        if action.table not in self._meta:
            if action.if_exists:
                return
            msg = f"DROP TABLE: unknown table '{action.table}'."
            raise InvalidTableError(msg)
        if self.database is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(action.table)}")
            # uniform drop semantics for adopted (external-location)
            # tables: remove the persisted metadata and the data files
            # a catalog-only DROP leaves behind
            db_loc = self._db_location()
            fs, path_cls = _hadoop_fs(self.spark, db_loc)
            fs.delete(
                path_cls(f"{self._meta_dir()}/{action.table}.json"), False
            )
            fs.delete(path_cls(self._table_dir(db_loc, action.table)), True)
        self._meta.pop(action.table, None)
        self._committed.pop(action.table, None)
        self._appends.pop(action.table, None)
        self._committed_empty.pop(action.table, None)
        self._chain_depth.pop(action.table, None)
        self._lazy_appends.discard(action.table)
        self.spark.catalog.dropTempView(action.table)

    def _create_table(self, parsed: ParsedTable) -> None:
        # validate BEFORE mutating connector state: a failed execute_ddl
        # must not leave a half-registered table behind
        declared = {c for c, _t in parsed.column_types}
        if unknown := [
            c for c in self.partition_by.get(parsed.name, []) if c not in declared
        ]:
            msg = (
                f"partition_by for table '{parsed.name}' names columns "
                f"{unknown} not declared in its DDL."
            )
            raise ValueError(msg)
        _, bucket_cols = self.bucket_by.get(parsed.name, (0, []))
        if unknown := [c for c in bucket_cols if c not in declared]:
            msg = (
                f"bucket_by for table '{parsed.name}' names columns "
                f"{unknown} not declared in its DDL."
            )
            raise ValueError(msg)

        ddl_schema = ", ".join(f"`{c}` {t}" for c, t in parsed.column_types)
        # statically-empty (LocalRelation): the optimizer folds this
        # branch out of every later union/join, and scans never touch a
        # Python worker — see ops.empty_frame
        empty = empty_frame(self.spark, ddl_schema)
        self._meta[parsed.name] = parsed
        self._appends.setdefault(parsed.name, [])

        # CREATE TABLE IF NOT EXISTS semantics: re-running a DDL script
        # against content this connector already tracks (or a populated
        # catalog table) must NOT wipe it or mark it empty — the
        # known-empty fast path would then skip the idempotent-insert
        # anti-join and restart surrogate keys at 1.
        already_tracked = parsed.name in self._committed
        if self.database is not None:
            qualified = self._qualified(parsed.name)
            pre_existed = self.spark.catalog.tableExists(qualified)
            if not already_tracked and not pre_existed:
                self._committed_empty[parsed.name] = True
            elif parsed.name not in self._committed_empty:
                self._committed_empty[parsed.name] = False  # unknown content
            with_epoch = empty_frame(
                self.spark, ddl_schema + f", `{_COMMIT_COL}` BIGINT"
            )
            create_writer = self._apply_layout(
                with_epoch.write.mode("ignore"), parsed.name
            )
            create_writer.saveAsTable(qualified)
            self._persist_table_meta(parsed)
            if (
                pre_existed
                and _COMMIT_COL not in self.spark.table(qualified).columns
            ):
                # adopting a table created outside this connector: give
                # its rows the always-durable epoch so commits (which
                # append the epoch column) fit the physical schema
                self._overwrite_table(
                    parsed.name,
                    self.spark.table(qualified).withColumn(
                        _COMMIT_COL, F.lit(0).cast("bigint")
                    ),
                )
            self._committed[parsed.name] = self._committed_view(parsed.name)
        elif not already_tracked:
            self._committed[parsed.name] = empty
            self._committed_empty[parsed.name] = True

    # -- cross-process metadata (file-persisted, like the journal) -----------
    #
    # Session catalogs (in-memory, and any non-shared metastore) are
    # per-process, but the DATA — parquet files, the commit journal —
    # is all on the shared filesystem.  Persisting each table's
    # metadata as a JSON file next to the journal makes the database
    # REOPENABLE from any process (the analogue of opening the same
    # SQLite file twice, reference sqlite_connector.py): the sidecar is
    # the ONLY metadata store, and opening reads it without writing.  A
    # fresh connector adopts every persisted table absent from its
    # session catalog as an external-location entry over the existing
    # files.  DDL (create/alter/drop) is single-writer like any
    # migration system; DATA commits are fully concurrent across
    # processes via the journal.

    def _db_location(self) -> str:
        return self.spark.catalog.getDatabase(
            self.database
        ).locationUri.rstrip("/")

    def _table_dir(self, db_loc: str, name: str) -> str:
        """The directory Spark gives managed table *name* in the database
        at *db_loc*: the name is lower-cased unless analysis is
        case-sensitive (``SessionCatalog.formatTableName``)."""
        if self.spark.conf.get("spark.sql.caseSensitive", "false") != "true":
            name = name.lower()
        return f"{db_loc}/{name}"

    def _meta_dir(self) -> str:
        return f"{self._db_location()}/_sql_autoloader_meta"

    def _persist_table_meta(self, parsed: ParsedTable) -> None:
        """Durably record *parsed* (plus physical layout) as
        ``<db>/_sql_autoloader_meta/<table>.json`` — temp-write +
        rename so readers never see a partial file."""
        meta_dir = self._meta_dir()
        fs, path_cls = _hadoop_fs(self.spark, meta_dir)
        fs.mkdirs(path_cls(meta_dir))
        payload = json.dumps(
            {
                # format version for forward compatibility: adopters
                # read known keys and ignore the rest, so additive
                # fields never break older readers; bump on breaking
                # layout changes
                "meta_version": 1,
                "column_types": [list(ct) for ct in parsed.column_types],
                "primary_key": parsed.primary_key,
                "foreign_keys": parsed.foreign_keys,
                "payload_columns": parsed.payload_columns,
                "unique_constraints": [
                    list(uc) for uc in parsed.unique_constraints
                ],
                "references": [list(r) for r in parsed.references],
                "not_null": parsed.not_null,
                "partition_by": self.partition_by.get(parsed.name, []),
                "bucket_by": list(
                    self.bucket_by.get(parsed.name, (0, []))
                ),
            }
        )
        # the tmp name MUST be process-unique: two connectors running
        # the same DDL script against one warehouse at once persist the
        # same table, and a shared "<table>.json.tmp" would make one
        # writer's move yank the file out from under the other's
        # (NoSuchFileException).  With a uuid-suffixed tmp each writer
        # moves only its own file; both moves succeed (REPLACE_EXISTING,
        # identical content, last one wins).  Same discipline as the
        # commit journal's per-token claim tmps.
        tmp_name = f"{parsed.name}.json.tmp-{uuid.uuid4().hex}"
        tmp = path_cls(f"{meta_dir}/{tmp_name}")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload.encode()))
        finally:
            out.close()
        dest = path_cls(f"{meta_dir}/{parsed.name}.json")
        sc = self.spark.sparkContext
        jvm = sc._jvm
        if fs.getScheme() == "file":
            # local filesystem (decided by the RESOLVED Hadoop FS, not
            # a string prefix — a schemeless path under an hdfs
            # defaultFS must take the Hadoop branch): java.nio
            # ATOMIC_MOVE replace — no window where the metadata file
            # is absent (a crash between a delete and a rename would
            # silently drop the table from every future process's
            # adoption).  The URI path is decoded (%-escapes) before
            # it reaches java.io.
            local = (
                jvm.java.net.URI(meta_dir).getPath()
                if meta_dir.startswith("file:")
                else meta_dir  # a bare path is already a file path
            )
            opt = jvm.java.nio.file.StandardCopyOption
            opts = sc._gateway.new_array(jvm.java.nio.file.CopyOption, 2)
            opts[0] = opt.REPLACE_EXISTING
            opts[1] = opt.ATOMIC_MOVE
            try:
                jvm.java.nio.file.Files.move(
                    jvm.java.io.File(f"{local}/{tmp_name}").toPath(),
                    jvm.java.io.File(
                        f"{local}/{parsed.name}.json"
                    ).toPath(),
                    opts,
                )
            except Exception:
                # belt-and-braces lost-race tolerance — but ONLY for
                # the race signature: our tmp GONE with the destination
                # present.  The uuid makes the tmp ours alone, so
                # tmp-gone means the atomic move actually landed (an
                # exception after the syscall is transport noise) or a
                # same-content concurrent persist superseded it.  If
                # our tmp still exists the move genuinely failed —
                # re-raise, NEVER leave a stale destination standing
                # (e.g. a failed persist right after ALTER TABLE would
                # otherwise silently feed old metadata to adopters).
                if fs.exists(tmp) or not fs.exists(dest):
                    raise
            # the nio move bypasses Hadoop's ChecksumFileSystem: drop
            # any CRC sidecars (the tmp's fresh one, and a stale dest
            # one left by a pre-nio writer — a stale CRC would fail
            # every future fs.open of the JSON with ChecksumException)
            for sidecar in (
                f".{parsed.name}.json.crc",
                f".{tmp_name}.crc",
            ):
                fs.delete(path_cls(f"{meta_dir}/{sidecar}"), False)
        else:
            # remote FS: rename refuses an existing destination —
            # delete-then-rename with its (tiny) absent window; a
            # concurrent DDL writer may win the rename between our delete
            # and our rename, in which case our rename returns False
            # with the destination present: the content both writers
            # persist is identical, so tolerate the lost race and just
            # drop our own tmp.  A failed rename with the destination
            # ABSENT is NOT that race — the preceding delete already
            # removed the old metadata JSON, so swallowing it would
            # silently drop the table from every future process's
            # adoption; raise, same discipline as the local branch.
            fs.delete(dest, False)
            if not fs.rename(tmp, dest):
                if fs.exists(dest):
                    fs.delete(tmp, False)
                else:
                    msg = (
                        f"persisting table metadata failed: rename "
                        f"{tmp} -> {dest} refused and no concurrent "
                        "writer landed the destination (permissions/"
                        "quota?); the table's metadata file is gone — "
                        "re-run the DDL to restore it."
                    )
                    raise RuntimeError(msg)

    def _read_table_meta(
        self, fs, path  # noqa: ANN001
    ) -> tuple[ParsedTable, list[str], tuple[int, list[str]]]:
        """Decode one sidecar written by :meth:`_persist_table_meta`:
        the table's metadata, its partition columns and its
        ``(n_buckets, columns)`` bucket spec."""
        stream = fs.open(path)
        try:
            spec = json.loads(
                self.spark.sparkContext._jvm.org.apache.commons.io.IOUtils
                .toString(stream, "UTF-8")
            )
        finally:
            stream.close()
        parsed = ParsedTable(
            name=path.getName()[: -len(".json")],
            column_types=[tuple(ct) for ct in spec["column_types"]],
            primary_key=spec["primary_key"],
            foreign_keys=spec["foreign_keys"],
            payload_columns=spec["payload_columns"],
            unique_constraints=spec["unique_constraints"],
            references=[tuple(r) for r in spec["references"]],
            not_null=spec.get("not_null", []),
        )
        n_buckets, bucket_cols = spec.get("bucket_by", [0, []])
        return parsed, spec.get("partition_by") or [], (n_buckets, bucket_cols)

    def _load_tables(self) -> None:
        """Load every table of the database from its sidecar JSON, in
        one pass that writes nothing.  A table absent from THIS
        process's session catalog gets an external-location entry over
        its existing directory, with the persisted layout."""
        import logging

        db_loc = self._db_location()
        meta_dir = self._meta_dir()
        fs, path_cls = _hadoop_fs(self.spark, meta_dir)
        root = path_cls(meta_dir)
        if not fs.exists(root):
            return
        paths = sorted(
            (s.getPath() for s in fs.listStatus(root)),
            key=lambda p: p.getName(),
        )
        for path in paths:
            if not path.getName().endswith(".json"):
                continue
            parsed, parts, (n_buckets, bucket_cols) = self._read_table_meta(
                fs, path
            )
            name = parsed.name
            qualified = self._qualified(name)
            table_dir = self._table_dir(db_loc, name)
            if not self.spark.catalog.tableExists(qualified):
                cols = ", ".join(f"`{c}` {t}" for c, t in parsed.column_types)
                cols += f", `{_COMMIT_COL}` BIGINT"
                clauses = ""
                if parts:
                    plist = ", ".join(f"`{c}`" for c in parts)
                    clauses += f" PARTITIONED BY ({plist})"
                if n_buckets:
                    # the same bucketBy(...).sortBy(...) _apply_layout writes
                    blist = ", ".join(f"`{c}`" for c in bucket_cols)
                    clauses += (
                        f" CLUSTERED BY ({blist}) SORTED BY ({blist})"
                        f" INTO {n_buckets} BUCKETS"
                    )
                self.spark.sql(
                    f"CREATE TABLE {qualified} ({cols}) USING PARQUET"
                    f"{clauses} LOCATION '{table_dir}'"
                )
                if parts:
                    self.spark.sql(f"MSCK REPAIR TABLE {qualified}")
            if fs.exists(path_cls(f"{table_dir}__recovery_staging")):
                # a crashed _overwrite_table left its staging copy —
                # the target either survived intact or can be restored
                # from this copy; surface it
                logging.getLogger("sql_autoloader_spark").warning(
                    "leftover recovery staging copy '%s__recovery_staging' "
                    "found — a table rewrite (compaction/migration) "
                    "crashed; verify '%s', then run recover_staging('%s') "
                    "to restore it from the copy (or drop the staging "
                    "table if the target survived intact).",
                    name,
                    name,
                    name,
                )
            self._meta[name] = parsed
            # restore the persisted physical layout FIRST: a migration
            # rewrite below must re-apply it, not erase it
            if parts:
                self.partition_by.setdefault(name, parts)
            if n_buckets:
                self.bucket_by.setdefault(name, (n_buckets, bucket_cols))
            # another PROCESS may have appended since this session last
            # listed the table's files — drop the cached file index so
            # a fresh connector sees the current directory contents
            self.spark.catalog.refreshTable(qualified)
            raw = self.spark.table(qualified)
            if _COMMIT_COL not in raw.columns:
                # legacy (pre-manifest) table, or a crash inside
                # _create_table after its sidecar landed: one-time
                # migration tags all existing rows as epoch 0 (always
                # durable)
                self._overwrite_table(
                    name,
                    raw.withColumn(_COMMIT_COL, F.lit(0).cast("bigint")),
                )
            self._committed[name] = self._committed_view(name)
            self._appends.setdefault(name, [])
            self._committed_empty[name] = False  # unknown content

    def fetch_schema(self) -> tuple[list[TableDict], list[ReferenceDict]]:
        """Emit the schema-graph wire format from the registered metadata."""
        tables: list[TableDict] = []
        references: list[ReferenceDict] = []
        for parsed in self._meta.values():
            tables.append(
                {
                    "name": parsed.name,
                    "columns": list(parsed.payload_columns),
                    "primary_key": parsed.primary_key,
                    "foreign_keys": list(parsed.foreign_keys),
                    "unique_constraints": [
                        list(uc) for uc in parsed.unique_constraints
                    ],
                }
            )
            references.extend(
                {
                    "from_table": parsed.name,
                    "from_key": from_key,
                    "to_table": to_table,
                    "to_key": to_key,
                }
                for from_key, to_table, to_key in parsed.references
            )
        return tables, references

    # -- physical primitives --------------------------------------------------

    def _read_table(self, table: str) -> DataFrame:
        """Committed content plus this transaction's pending appends."""
        if table not in self._committed:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        return self._decode_adapters(self._read_table_raw(table))

    def _decode_adapters(self, frame: DataFrame) -> DataFrame:
        """Apply the user-facing half of every dtype adapter."""
        for col, (_encode, decode) in self.dtype_adapters.items():
            if col in frame.columns:
                frame = frame.withColumn(col, decode(F.col(f"`{col}`")))
        return frame

    def _read_table_raw(self, table: str) -> DataFrame:
        """Visible content in *storage* form (no dtype-adapter decode) —
        the write path compares encoded payloads against this."""
        if table not in self._committed:
            msg = f"table '{table}' does not exist in the Spark catalog sink."
            raise KeyError(msg)
        frame = self._committed[table]
        for appended in self._appends.get(table, []):
            frame = frame.unionByName(appended)
        return frame

    def _write_new_rows(
        self,
        table: str,
        new_rows: DataFrame,
        columns: list[str],
        *,
        payload_bound: int | None = None,
    ) -> None:
        meta = self._meta[table]
        declared = dict(meta.column_types)

        # custom-dtype passthrough: encode user-typed columns into their
        # declared storage form before the cast
        for col, (encode, _decode) in self.dtype_adapters.items():
            if col in new_rows.columns:
                new_rows = new_rows.withColumn(col, encode(F.col(f"`{col}`")))

        # align the payload to the table's declared column types
        payload = new_rows.select(
            [F.col(f"`{c}`").cast(declared[c]).alias(c) for c in columns]
        )

        # NOT NULL enforcement: INSERT OR IGNORE silently skips rows that
        # violate any constraint (reference sqlite_connector.py:10-25 +
        # SQLite semantics), so null-in-NOT-NULL rows are filtered out here.
        for nn in meta.not_null:
            if nn in payload.columns:
                payload = payload.where(F.col(f"`{nn}`").isNotNull())

        # INSERT OR IGNORE: drop rows an applicable unique constraint
        # already claims.  Null-unsafe join on purpose — SQL UNIQUE treats
        # NULLs as distinct, so null-keyed rows always insert (SQLite
        # parity).  With no declared constraint the whole inserted row is
        # the key, via ``subtract`` (null-safe EXCEPT) so re-loads stay
        # idempotent.  Raw (storage-form) read: the payload is already
        # encoded, so both join sides must be.
        table_known_empty = self._committed_empty.get(
            table, False
        ) and not self._appends.get(table)
        existing = self._read_table_raw(table)
        anti_keys = [
            uc for uc in meta.unique_constraints if set(uc) <= set(columns)
        ]
        if not table_known_empty:
            if anti_keys:
                for key in anti_keys:
                    payload = payload.join(
                        existing.select(*key), on=key, how="left_anti"
                    )
            else:
                payload = payload.subtract(existing.select(*columns))

        # Intra-payload unique conflicts: INSERT OR IGNORE inserts rows one
        # at a time, so of two payload rows sharing a unique key only the
        # first lands and the post-insert check raises
        # InsertingDataFailedError.  Keep one deterministic row per key
        # (smallest by all columns) so the verification sees the conflict;
        # rows with any NULL in the key are exempt (SQL UNIQUE treats NULLs
        # as distinct).
        for key in anti_keys:
            key_has_null = F.greatest(
                *[F.col(f"`{c}`").isNull() for c in key]
            ) if len(key) > 1 else F.col(f"`{key[0]}`").isNull()
            w = Window.partitionBy(*[F.col(f"`{c}`") for c in key]).orderBy(
                *[F.col(f"`{c}`") for c in payload.columns]
            )
            payload = (
                payload.withColumn(
                    "__rn",
                    F.when(key_has_null, F.lit(1)).otherwise(
                        F.row_number().over(w)
                    ),
                )
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )

        pre_surrogate = payload
        payload = self._with_surrogate_key(
            table,
            payload,
            columns,
            existing,
            known_empty=table_known_empty,
            payload_bound=payload_bound,
        )

        # widen to the full declared schema (absent columns -> typed nulls)
        full = payload.select(
            [
                F.col(f"`{c}`")
                if c in payload.columns
                else F.lit(None).cast(t).alias(c)
                for c, t in meta.column_types
            ]
        )
        # Pin policy.  Every write lineage here is deterministic
        # (`existing` is a snapshot of stable committed frames, the fused
        # max-id aggregates that snapshot, and ranks order by the full
        # distinct natural key), so pinning is about bounding RECOMPUTE,
        # not correctness: appends are re-read by every later
        # anti-join/merge/compare, and an unpinned window or anti-join
        # would re-run per read and nest unboundedly across loads.  A
        # surrogate-free append into a known-empty table, however, is a
        # pure projection/cast/filter of the caller's frame (the fact
        # path of a star load) — pinning it would materialize a second
        # full copy of the fact for no benefit, which at 100 TB is an
        # entire extra write of the biggest table.  Those stay lazy
        # plans; the commit write (managed mode) or the chain compaction
        # (in-memory mode) materializes them exactly once.  Inputs are
        # assumed deterministic plans (scans, caches) — reference
        # parity, where inputs are materialized frames; callers loading
        # from a nondeterministic source (e.g. rand()) must materialize
        # it themselves first.
        surrogate_added = payload is not pre_surrogate
        window_dedup_ran = bool(anti_keys)
        if surrogate_added or window_dedup_ran or not table_known_empty:
            full = self._lazy_pin(
                full,
                small=payload_bound is not None
                and payload_bound <= self.max_window_rows,
                bound=payload_bound,
            )
        else:
            # the in-memory commit lazily pins this table's chain so
            # post-commit reads materialize the plan once, not per read
            self._lazy_appends.add(table)
        self._appends.setdefault(table, []).append(full)
        self._register_view(table)

    #: payloads whose known upper bound exceeds this use the distributed
    #: (range-partitioned) ranking instead of a single-partition window
    max_window_rows: int = 8_000_000

    def _lazy_pin(
        self, frame: DataFrame, *, small: bool, bound: int | None = None
    ) -> DataFrame:
        """Pin an append as a lazily-materialized localCheckpoint.

        The checkpoint does double duty: the window/anti-join lineage
        runs exactly once (every later read scans materialized
        partitions), and — critically for deep schemas — the LINEAGE IS
        TRUNCATED, so plans built on top of many appends stay shallow
        (a ``persist`` pin was measured 5× slower on the 8-table test
        corpus: logical plans nest across steps and loads, and
        analysis/planning walks the tree).

        ``eager=False`` defers materialization to the first consuming
        job, but ``toRdd`` still runs at call time — and under AQE that
        *executes every shuffle stage of the plan synchronously* right
        here (measured 0.2-0.5 s of blocking driver time per keyed
        table at sf0.1).  For provably small payloads the subtree is
        therefore planned with AQE off: plain physical planning, no
        execution, and nothing AQE would buy — the inputs are
        dimension-sized by the caller's bound, and the anti-join's
        broadcast decision for the *existing* side is re-made per load
        from real sizes anyway once the append chain is materialized.
        Large/unknown payloads keep adaptive planning (runtime join
        re-selection and skew splitting matter at fact scale; the
        blocking pre-execution amortizes over the real work).
        """
        if not small:
            return frame.localCheckpoint(eager=False)
        # (A bound-scaled coalesce before this pin was tried and MEASURED
        # slower at sf0.1 — collapsing the anti-join stage's parallelism
        # costs more than scheduling its mostly-empty partitions saves.)
        conf = self.spark.conf
        # the partition count is baked into the physical plan here (the
        # lazy checkpoint's toRdd plans now, executes later), so with
        # AQE off ALSO size shuffle partitions by the payload bound: a
        # dimension-sized anti-join/window pin gets few-task stages
        # instead of the session default's mostly-empty ones — every
        # later read of the append chain schedules those few tasks.
        # Scaled, not a constant: `small` covers bounds up to 8M rows,
        # and freezing THOSE at 4 partitions would cap the pin's
        # parallelism at ~2M rows/task on a real cluster.
        parts = max(4, (bound or 0) // 500_000)
        keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        # session conf is global: serialize the toggle against other
        # threads' pins (this section only PLANS — no execution)
        with _CONF_LOCK:
            prev = [conf.get(k) for k in keys]
            conf.set(keys[0], "false")
            conf.set(keys[1], str(parts))
            try:
                return frame.localCheckpoint(eager=False)
            finally:
                for k, p in zip(keys, prev):
                    conf.set(k, p)

    def _with_surrogate_key(
        self,
        table: str,
        payload: DataFrame,
        columns: list[str],
        existing: DataFrame,
        *,
        known_empty: bool = False,
        payload_bound: int | None = None,
    ) -> DataFrame:
        meta = self._meta[table]
        pk = meta.primary_key
        if not pk or pk in payload.columns:
            return payload
        # ids are max(existing) + dense rank ordered by the natural key.
        # Two physical shapes, identical ids:
        # - small payloads (bound known and under max_window_rows, the
        #   incremental-dimension-load case): one single-partition window
        #   over just this load's novel members;
        # - large/unknown bulk loads: data-derived literal range
        #   buckets (scale.range_bucket), rank within each bucket's
        #   window, and add per-bucket offsets — one hash exchange, no
        #   single-task sort, scales to billions of members.  (``load``
        #   threads its input count through as the bound; a standalone
        #   ``insert`` has no bound and takes the distributed path,
        #   which is always safe.)
        small = payload_bound is not None and payload_bound <= self.max_window_rows
        sort_cols = [F.col(f"`{c}`") for c in columns]
        if small:
            numbered = payload.withColumn(
                "__rn", F.row_number().over(Window.orderBy(*sort_cols))
            )
        else:
            numbered = self._distributed_rank(payload, columns)

        if known_empty:
            return numbered.withColumn(
                pk, F.col("__rn").cast("bigint")
            ).drop("__rn")
        # Fused max-id: a broadcast cross-join against the 1-row aggregate
        # keeps the scan inside the write lineage (materialized with the
        # pinned append by its first consuming job) instead of a blocking
        # driver-side ``first()`` per keyed table.
        base = existing.agg(
            F.coalesce(F.max(F.col(pk)), F.lit(0)).cast("bigint").alias("__max_id")
        )
        return (
            numbered.crossJoin(F.broadcast(base))
            .withColumn(pk, (F.col("__rn") + F.col("__max_id")).cast("bigint"))
            .drop("__rn", "__max_id")
        )

    def _distributed_rank(self, payload: DataFrame, columns: list[str]) -> DataFrame:
        """Dense 1-based rank by the natural key, no single-partition window.

        Bucket rows by data-derived range boundaries
        (``scale.range_bucket`` — literal-embedded, so the id is a pure
        function of the data and safe to recompute), rank within each
        bucket's window, and add the running sum of preceding bucket
        counts (one row per bucket, broadcast back).  The previous
        ``repartitionByRange + spark_partition_id()`` form was correct
        only when Catalyst REUSED the range exchange across the count
        branch and the window branch — when reuse failed to fire (seen
        under AQE over an upstream aggregate) the branches re-sampled
        range boundaries independently over a shuffle-nondeterministic
        input and the partition tags disagreed, silently corrupting the
        surrogate keys.
        """
        sort_cols = [F.col(f"`{c}`") for c in columns]
        from sql_autoloader_spark.functions.scale import (
            range_bucket,
            shuffle_partitions,
        )

        n_parts = shuffle_partitions(payload)
        ranged = payload.withColumn(
            "__pid", range_bucket(payload, columns, n_parts)
        )
        counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
        offsets = counts.withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        ).select("__pid", "__off")
        within = F.row_number().over(
            Window.partitionBy("__pid").orderBy(*sort_cols)
        )
        return (
            ranged.withColumn("__wrn", within)
            .join(F.broadcast(offsets), on="__pid")
            .withColumn("__rn", F.col("__wrn") + F.col("__off"))
            .drop("__pid", "__wrn", "__off")
        )

    def _execute_compare_query(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def _insert_verification_unneeded(
        self, table: str, payload: DataFrame, columns: list[str]
    ) -> bool:
        """The post-insert subset check is redundant iff the write provably
        lands the payload verbatim: target known empty (no conflict with
        existing rows possible), no applicable unique constraint (no
        intra-payload conflict possible), no dtype adapter on an inserted
        column, and every cast to the declared storage type is an identity
        (no value can change in flight).  NOT NULL filtering is exempt:
        rows it removes contain a null, and the subset check drops
        null-containing rows from the payload side anyway (exact=False
        compare semantics).
        """
        known_empty = self._committed_empty.get(
            table, False
        ) and not self._appends.get(table)
        if not known_empty:
            return False
        meta = self._meta[table]
        if any(set(uc) <= set(columns) for uc in meta.unique_constraints):
            return False
        if any(c in self.dtype_adapters for c in columns):
            return False
        declared = dict(meta.column_types)
        src_types = dict(payload.dtypes)
        cast_types = dict(
            payload.select(
                [
                    F.col(f"`{c}`").cast(declared[c]).alias(c)
                    for c in columns
                ]
            ).dtypes
        )
        return all(cast_types[c] == src_types[c] for c in columns)

    # -- helpers ----------------------------------------------------------------

    def _qualified(self, table: str) -> str:
        return f"{self.database}.{table}" if self.database else table

    def _register_views(self) -> None:
        for table in self._meta:
            self._register_view(table)

    def _register_view(self, table: str) -> None:
        """Expose current visible content under the bare table name.

        Generated compare queries reference bare names; temp views shadow
        catalog tables in ``spark.sql`` resolution, so both storage modes
        read transaction-consistent content.
        """
        self._read_table(table).createOrReplaceTempView(table)
