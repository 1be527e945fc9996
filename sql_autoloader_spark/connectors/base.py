"""Connector lifecycle: insert / retrieve_ids / load / compare.

This is the orchestration layer of the reference
(/root/reference/sql_autoloader/connector.py:81-452) restated over
PySpark DataFrames.  Subclasses supply four physical primitives:

- :meth:`fetch_schema` — introspect tables + FK references,
- :meth:`_read_table` — the current visible contents of a table,
- :meth:`_write_new_rows` — idempotent insert (skip rows whose natural
  key already exists; the Spark stand-in for ``INSERT OR IGNORE`` /
  ``ON CONFLICT DO NOTHING``),
- :meth:`_execute_compare_query` — run a generated/user SQL string.

Everything else — planning, key merging, validation — is shared and
entirely declarative, so Catalyst owns the physical execution.
"""

from __future__ import annotations

import logging
from abc import ABC, abstractmethod
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Self

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from sql_autoloader_spark.exceptions import (
    CompareMissingRowsError,
    InsertingDataFailedError,
    MissingKeysAfterMergeError,
)
from sql_autoloader_spark.ops import dataframe_ops as ops
from sql_autoloader_spark.schema import (
    ReferenceDict,
    Schema,
    TableDict,
)

logger = logging.getLogger("sql_autoloader_spark")


def _insert_failed(table: str, cause: Exception) -> InsertingDataFailedError:
    msg = (
        f"Encountered an error upon inserting data into table '{table}':\n"
        f"\t{cause!s}\n"
        "This usually happens because a uniqueness constraint kept new "
        "data out. Either clear the relevant tables or reset the "
        "database; to update existing rows, run an UPDATE yourself."
    )
    return InsertingDataFailedError(msg)


def in_caller_context(spark: SparkSession, fn: Callable) -> Callable:
    """*fn* wrapped to run on another thread with the calling thread's
    local properties (job group, description, scheduler pool) and
    session tags, captured now — so its jobs count, and are cancelled,
    as the caller's."""
    wrap = inheritable_thread_target(spark)
    # without pinned threads PySpark hands the session back: Python
    # threads then share JVM threads and there is nothing to carry
    return fn if wrap is spark else wrap(fn)


def _check_deferred(rec: dict) -> None:
    """Run one deferred step's merge invariants (a ``defer_to`` record),
    raising the error the eager path raises for that step."""
    try:
        ops.check_merge_invariants(
            rec["frame"],
            rec["alias"],
            rec["table"],
            rec["known_count"],
            sample_frame=rec["joined"],
        )
    except MissingKeysAfterMergeError as e:
        raise _insert_failed(rec["table"], e) from e


class _BackgroundChecks:
    """Deferred merge checks run on one worker thread, in step order,
    beside the caller's next steps.

    Each check is wrapped with the caller's local properties and session
    tags at submit time, so its jobs land in the caller's job group.
    :meth:`wait` raises the first failed check's error.  Leaving the
    ``with`` block on an exception first awaits every check in step
    order and raises the first failed check's error in place of that
    exception (which becomes its ``__context__``), then joins the
    worker — no thread outlives the block.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._pool: ThreadPoolExecutor | None = None
        self._futures: list[Future] = []

    def submit(self, rec: dict, *, release: DataFrame | None = None) -> None:
        """Queue *rec*'s check; unpersist *release* once it finished —
        the check reads the step's cache, whose lineage runs through
        the superseded step's, so releasing that earlier would make the
        check recompute the whole chain."""
        if self._pool is None:
            self._pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="load-check"
            )
        future = self._pool.submit(
            in_caller_context(self._spark, _check_deferred), rec
        )
        if release is not None:
            future.add_done_callback(lambda _: release.unpersist())
        self._futures.append(future)

    def _first_failure(self) -> BaseException | None:
        for future in self._futures:
            if (err := future.exception()) is not None:
                return err
        return None

    def wait(self) -> None:
        if (err := self._first_failure()) is not None:
            raise err

    def __enter__(self) -> Self:
        return self

    def __exit__(
        self, exc_type: object, exc: BaseException | None, tb: object
    ) -> None:
        try:
            if exc is not None:
                err = self._first_failure()
                if err is not None and err is not exc:
                    raise err
        finally:
            if self._pool is not None:
                self._pool.shutdown(wait=True, cancel_futures=True)


class BaseConnector(ABC):
    """Shared load/insert/retrieve/compare lifecycle over any sink."""

    spark: SparkSession
    schema: Schema

    #: identifier quote character for generated SQL (Spark: backtick)
    _quote: str = "`"

    #: broadcast the key-retrieval scan.  It is dimension-sized by the
    #: loader's model (pk + natural key of a keyed table), and the merge
    #: joins it on the RIGHT of a fact-preserving left join, so a
    #: broadcast build is legal — without the hint the static planner has
    #: no size stats for the pinned appends and shuffles the fact side
    #: into a SortMergeJoin.  Sinks with dimension tables too big to
    #: broadcast set this False and let AQE pick the join at runtime.
    _broadcast_dims: bool = False

    #: the sink stores zone-less timestamp columns as UTC wall clocks:
    #: read-backs then align TIMESTAMP <-> TIMESTAMP_NTZ/DATE in UTC
    #: (``ops.match_dtypes``) instead of by a plain cast, which binds
    #: the session timezone
    _utc_wall_clock: bool = False

    #: opt-in: keep the validated reconstruction the compare aggregate
    #: already computed, materialized flat (``localCheckpoint``), and
    #: expose it as :attr:`last_reconstruction` — callers that want the
    #: reconstructed flat frame after a ``load`` reuse that shuffle
    #: instead of re-running the multi-way join (and every action on it
    #: plans against the flat checkpoint, not the whole load lineage).
    #: Off by default: the pin is distinct-input-sized, which a 100 TB
    #: load should not hold onto unless the caller actually consumes it.
    expose_reconstruction: bool = False

    #: the distinct reconstruction from the most recent compare, when
    #: :attr:`expose_reconstruction` was set (else ``None``).  Stays
    #: valid after the load's internal caches are released; re-assigned
    #: (and the previous pin dropped) by the next compare.
    last_reconstruction: DataFrame | None = None
    _kept_grouped: DataFrame | None = None
    #: cached input frame kept alive because it IS last_reconstruction
    #: (fast-path compare) — explicitly unpersisted on replacement
    _kept_cache: DataFrame | None = None

    # -- physical primitives (per sink) -------------------------------------

    @abstractmethod
    def fetch_schema(self) -> tuple[list[TableDict], list[ReferenceDict]]:
        """Introspect the sink's tables and foreign-key references."""

    @abstractmethod
    def _read_table(self, table: str) -> DataFrame:
        """Current visible contents of *table* (including uncommitted rows)."""

    @abstractmethod
    def _write_new_rows(
        self,
        table: str,
        new_rows: DataFrame,
        columns: list[str],
        *,
        payload_bound: int | None = None,
    ) -> None:
        """Idempotently insert *new_rows* (distinct, restricted to *columns*).

        ``payload_bound``, when the caller knows it, is an UPPER bound on
        the payload's row count (``load`` threads its running input count
        through every step) — sinks may use it to pick a physical
        strategy (e.g. surrogate-key ranking) without running a count job.
        """

    @abstractmethod
    def _execute_compare_query(self, query: str) -> DataFrame:
        """Execute a (generated or user-supplied) SQL compare query."""

    def _serverside_fast_compare(
        self, data: DataFrame, query: str
    ) -> bool | None:
        """Sink hook: run the checksum fast-path equality INSIDE the sink.

        Remote sinks whose ``_execute_compare_query`` must pull the full
        reconstruction result to the driver override this to compute the
        multiset checksums (the :func:`ops.fast_set_equal` analogue) in
        the database itself, so the happy-path validation moves O(1)
        bytes to the driver.  Returns ``True`` (sets proven equal),
        ``False`` (mismatch — the caller falls back to the row-pulling
        grouped compare for classification and error samples), or
        ``None`` (unsupported here; use the default path).  Only called
        with the GENERATED compare query under ``exact=True``."""
        return None

    def _insert_verification_unneeded(
        self, table: str, payload: DataFrame, columns: list[str]
    ) -> bool:
        """Sink hook: True when the post-insert subset check is provably
        redundant (e.g. a known-empty target with no applicable unique
        constraint and lossless storage, so the write lands the payload
        verbatim).  Must be evaluated *before* the write.  Default: never
        skip."""
        return False

    # -- schema management ----------------------------------------------------

    def get_schema(self) -> Schema:
        return Schema(self.fetch_schema)

    def schema_is_empty(self) -> bool:
        return self.schema.is_empty

    def update_schema(self) -> None:
        """Re-introspect the sink after out-of-band DDL."""
        self.schema = self.get_schema()

    def print_schema(self) -> None:
        print(str(self.schema))  # noqa: T201

    # -- context manager -------------------------------------------------------

    def __enter__(self) -> Self:
        return self

    def __exit__(self, *exception: object) -> None:
        return None

    # -- lifecycle ---------------------------------------------------------------

    def insert(
        self,
        data: DataFrame,
        *,
        table: str,
        columns: dict[str, str] | None = None,
        _deduped: bool = False,
        _check_covered_by_merge: bool = False,
        _check_covered_by_compare: bool = False,
        _known_count: int | None = None,
    ) -> None:
        """Insert the table's share of *data*, then verify it landed.

        Composition (reference connector.py:181-228): rename+dedup ->
        validate target columns -> idempotent write of the distinct
        projection -> read back a distinct scan and assert data is a
        subset (``exact=False`` compare).  ``_deduped`` is the internal
        fast path for ``load`` (input already deduplicated once).

        ``_check_covered_by_merge``: when a key retrieval immediately
        follows (``insert_and_retrieve_ids``), any payload row that
        failed to land — uniqueness conflict, intra-payload conflict,
        value-mangling cast — joins to no table row and surfaces as a
        NULL id in the merge-invariant aggregate, so the separate
        subset-check scan of the table is provably redundant and skipped
        (one fewer full-table pass per keyed table at scale).

        ``_check_covered_by_compare``: when ``load`` will run the
        generated compare afterwards, the reconstruction join traverses
        every inserted table, so a row this insert dropped or mangled
        goes missing from the reconstructed data set and the compare
        aggregate reports it — the same failure surface, one fewer
        full-table scan per plain-insert (fact/linking) table.
        """
        self.schema.check_schema_not_empty()
        data = ops.preprocess(data, columns, dedup=not _deduped)
        common = self.schema.parse_insert(table, data.columns)
        if not common:
            msg = "No common columns were found."
            raise AssertionError(msg)

        logger.debug("Inserting %s into %s", common, table)
        # A full-width projection of an already-deduplicated frame is
        # already distinct — skip the per-insert dedup shuffle (the fact
        # table of a star load takes every running column, so this saves
        # one full shuffle of the fact per load).
        payload = ops.distinct_rows(
            data,
            common,
            already_distinct=_deduped and set(common) == set(data.columns),
        )
        # must be decided BEFORE the write flips the sink's emptiness state
        skip_check = (
            _check_covered_by_merge
            or _check_covered_by_compare
            or self._insert_verification_unneeded(table, payload, common)
        )
        self._write_new_rows(table, payload, common, payload_bound=_known_count)
        if skip_check:
            return

        # Verification: payload must be a subset of the table's rows.
        # ``ops.compare`` runs one union+group-by aggregate with null-safe
        # set semantics, so no full-table ``distinct()`` pass is needed
        # here; the scan stays a bare projection Catalyst can prune.
        check = self._read_table(table).select(*common)
        try:
            ops.compare(
                payload,
                check,
                exact=False,
                utc_wall_clock=self._utc_wall_clock,
            )
        except CompareMissingRowsError as e:
            raise _insert_failed(table, e) from e

    def retrieve_ids(
        self,
        data: DataFrame,
        *,
        table: str,
        alias: str,
        columns: dict[str, str] | None = None,
        replace: bool = True,
        allow_duplication: bool = False,
    ) -> DataFrame:
        """Read the table's surrogate keys and join them onto *data*.

        Composition (reference connector.py:230-284): rename+dedup ->
        validate -> key scan ``SELECT pk AS alias, common...`` -> null-safe
        left merge -> optionally drop the now-replaced payload columns.
        """
        result, _ = self._retrieve_ids_counted(
            data,
            table=table,
            alias=alias,
            columns=columns,
            replace=replace,
            allow_duplication=allow_duplication,
        )
        return result

    def _retrieve_ids_counted(
        self,
        data: DataFrame,
        *,
        table: str,
        alias: str,
        columns: dict[str, str] | None = None,
        replace: bool = True,
        allow_duplication: bool = False,
        deduped: bool = False,
        known_count: int | None = None,
        cache_result: bool = False,
        defer_to: list[dict] | None = None,
    ) -> tuple[DataFrame, int]:
        """:meth:`retrieve_ids` plus the internal fast paths ``load`` uses.

        The merge invariants are verified on the *final* frame (post
        drop/rename) in a single aggregate, which both materializes the
        optional cache and returns the row count — so ``load`` needs no
        separate ``count()`` per step and no pre-join count when
        ``known_count`` threads through from the previous step.

        ``defer_to``: skip the invariant aggregate entirely and append a
        check record to this list instead.  ``load`` uses this when its
        generated exact compare will run: every failure the per-step
        aggregate detects (null id after merge, row duplication)
        provably surfaces as a compare-checksum mismatch — a null or
        missing id drops the row from the reconstruction join, a
        fan-out changes the reconstruction's row count — so the happy
        path needs ZERO blocking jobs per table step, and the records
        are re-checked (in step order, preserving each error's
        per-table identity) only when the compare mismatches.  Without
        that compare (and with duplication disallowed) ``load`` hands
        each record to a background worker instead, which runs the
        checks beside the later steps.  Requires ``known_count`` (it
        stays the running bound for later steps; the bound is exact
        unless a step duplicated rows, which the compare or the
        deferred check then reports).
        """
        self.schema.check_schema_not_empty()
        data = ops.preprocess(data, columns, dedup=not deduped)

        primary_key, common = self.schema.parse_retrieve(table, alias, data.columns)

        logger.debug("Retrieving %s from %s as %s", common, table, alias)
        snapshot = self._read_table(table)
        db_fetch = snapshot.select(
            F.col(primary_key).alias(alias),
            *[F.col(c) for c in common],
        )
        if self._broadcast_dims:
            # dimension-sized by construction: pk + natural key of a keyed
            # table.  Without the hint the static planner shuffles the
            # (fact-sized) data side into a SortMergeJoin.
            db_fetch = F.broadcast(db_fetch)

        db_data = ops.match_dtypes(
            db_fetch, data, utc_wall_clock=self._utc_wall_clock
        )
        joined = ops.merge_join(data, db_data)
        result = joined
        if replace:
            result = result.drop(*self.schema.get_columns(table))
        result = ops.postprocess(result, columns)
        if cache_result:
            result = result.cache()

        # postprocess may have renamed the alias column back
        alias_out = alias
        if columns:
            alias_out = {v: k for k, v in columns.items()}.get(alias, alias)
        if defer_to is not None:
            if known_count is None:
                msg = "defer_to requires known_count"
                raise AssertionError(msg)
            defer_to.append(
                {
                    "frame": result,
                    "joined": joined,
                    "alias": alias_out,
                    "table": table,
                    "known_count": known_count,
                }
            )
            return result, known_count
        # Unknown input count: fuse it into the invariant aggregate (one
        # tagged-union pass over the cached input) instead of a
        # standalone count job — at scale that is one full pass over the
        # fact, not two.
        new_len = ops.check_merge_invariants(
            result,
            alias_out,
            table,
            known_count,
            orig_frame=None if known_count is not None else data,
            allow_duplication=allow_duplication,
            sample_frame=joined,
        )
        return result, new_len

    def insert_and_retrieve_ids(
        self,
        data: DataFrame,
        *,
        table: str,
        alias: str,
        columns: dict[str, str] | None = None,
        replace: bool = True,
        allow_duplication: bool = False,
    ) -> DataFrame:
        """:meth:`insert` then :meth:`retrieve_ids` (reference connector.py:286-324)."""
        result, _ = self._insert_and_retrieve_counted(
            data,
            table=table,
            alias=alias,
            columns=columns,
            replace=replace,
            allow_duplication=allow_duplication,
        )
        return result

    def _insert_and_retrieve_counted(
        self,
        data: DataFrame,
        *,
        table: str,
        alias: str,
        columns: dict[str, str] | None = None,
        replace: bool = True,
        allow_duplication: bool = False,
        deduped: bool = False,
        known_count: int | None = None,
        cache_result: bool = False,
        defer_to: list[dict] | None = None,
    ) -> tuple[DataFrame, int]:
        self.insert(
            data,
            table=table,
            columns=columns,
            _deduped=deduped,
            _check_covered_by_merge=True,
            _known_count=known_count,
        )
        try:
            return self._retrieve_ids_counted(
                data,
                table=table,
                alias=alias,
                columns=columns,
                replace=replace,
                allow_duplication=allow_duplication,
                deduped=deduped,
                known_count=known_count,
                cache_result=cache_result,
                defer_to=defer_to,
            )
        except MissingKeysAfterMergeError as e:
            # With the insert-time subset check folded into this merge, a
            # NULL id here means the row never landed (the reference's
            # post-insert failure, connector.py:215-228) — report it as
            # such rather than as a bare merge anomaly.
            raise _insert_failed(table, e) from e

    def compare(
        self,
        data: DataFrame,
        *,
        query: str | None = None,
        columns: dict[str, str] | None = None,
        where: str | None = None,
        exact: bool = True,
        _deduped: bool = False,
        _missing_first: bool = False,
        _fast: bool = False,
        _on_mismatch=None,
    ) -> None:
        """Validate loaded data by reconstructing the flat frame in SQL.

        When *query* is omitted, one is generated from the schema DAG
        (longest-path spine + shortest-path splices, SURVEY.md §2B-B8) and
        executed by the sink — for the Spark sink that means Catalyst
        plans the multi-way LEFT JOIN.

        ``_fast`` (internal, ``load``): try the one-aggregate checksum
        equality first (:func:`ops.fast_set_equal`) — the happy path
        then streams the reconstruction join into eleven numbers with no
        all-columns shuffle and no checkpoint, and the exposed
        reconstruction is the already-cached distinct input itself.
        ``_on_mismatch`` runs before the slow-path classification.
        """
        self.schema.check_schema_not_empty()
        data = ops.preprocess(data, columns, dedup=not _deduped)

        if query is None:
            query = self.schema.get_compare_query(
                data.columns, where=where, quote=self._quote
            )
        logger.debug("Comparing using query:\n%s", query)

        # Remote sinks first get the chance to prove set equality WITHOUT
        # shipping the reconstruction to the driver: the checksum
        # aggregate runs inside the database and O(1) numbers cross the
        # wire.  A mismatch (or an unsupporting sink) falls through to
        # the default path with identical failure semantics.
        #
        # Semantic note: a True verdict certifies equality under the
        # DATABASE's assignment-cast semantics — the staged payload is
        # coerced into the reconstruction's column types before
        # hashing — which is (deliberately) a hair wider than the
        # default path's match_dtypes alignment for NON-CANONICAL text
        # payloads: a string '01' loaded into an int column passes
        # here (the database casts '01' to the same 1 it stored),
        # where the in-Spark path reconstructs '1' and reports a
        # mismatch.  The database's answer is the truer one (the
        # stored value IS what the payload maps to); inputs that are
        # already the canonical rendering — everything a DataFrame
        # read produces — behave identically on both paths.
        if _fast and exact:
            verdict = self._serverside_fast_compare(data, query)
            if verdict is True:
                logger.debug("Server-side checksum compare verified")
                self._expose_verified(data)
                return
            if verdict is False:
                # same contract as the in-Spark fast path's mismatch: the
                # deferred per-step invariants re-run first (preserving
                # their per-table error identity), then the grouped
                # compare classifies and samples
                if _on_mismatch is not None:
                    _on_mismatch()
                    _on_mismatch = None
                _fast = False

        # The generated multi-way LEFT JOIN is the most expensive query of
        # the whole lifecycle.  All validation — both raw counts, the
        # data-side null scan, and both set differences — is fused into a
        # single union+group-by aggregate (or, on the fast path, a single
        # checksum aggregate), so the join is computed exactly once,
        # streamed, and never cached (scale-critical at 100 TB: one pass
        # over the fact join, not three passes over a materialization).
        db_data = self._execute_compare_query(query)
        outcome = ops.validate_load_compare(
            data,
            db_data,
            exact=exact,
            missing_first=_missing_first,
            keep_grouped=self.expose_reconstruction,
            fast=_fast,
            on_mismatch=_on_mismatch,
            utc_wall_clock=self._utc_wall_clock,
        )
        if not self.expose_reconstruction:
            return
        if outcome is ops.FAST_VERIFIED:
            self._expose_verified(data)
        elif outcome is not None:
            self._drop_kept_pins(data)
            self._kept_grouped = outcome
            self.last_reconstruction = ops.reconstruction_from_grouped(
                outcome, data.columns
            )

    def _drop_kept_pins(self, data: DataFrame) -> None:
        """Release the previous compare's pins FIRST: checkpointed frames
        free their partitions via the context cleaner once unreferenced;
        kept caches are released explicitly (unless the kept cache IS the
        incoming frame)."""
        self._kept_grouped = None
        if self._kept_cache is not None and self._kept_cache is not data:
            self._kept_cache.unpersist()
        self._kept_cache = None

    def _expose_verified(self, data: DataFrame) -> None:
        """Bookkeeping after a fast-path (checksum) verification: the
        sets are proven equal, so the reconstruction is content-identical
        to the distinct input, which is already cached (and, unlike a
        localCheckpoint, recomputable after executor loss)."""
        if not self.expose_reconstruction:
            return
        self._drop_kept_pins(data)
        self.last_reconstruction = data
        self._kept_cache = data

    def load(
        self,
        data: DataFrame,
        *,
        columns: dict[str, str] | None = None,
        compare: bool = True,
        compare_query: str | None = None,
        replace: bool = True,
        allow_duplication: bool = False,
        where: str | None = None,
        exact: bool = True,
    ) -> DataFrame:
        """Automatically load a flat DataFrame into the whole schema.

        The planner (reference connector.py:376-452) derives the table
        set from the data's columns, topologically orders it, runs
        insert+retrieve for every keyed-and-referenced table (the running
        DataFrame swaps payload columns for foreign keys as it goes), then
        plain inserts, then validates against the original frame.

        Each keyed step's merge invariants (no NULL id, no fan-out) are
        checked in one of three ways, named by the INFO decision record
        this call emits (``extra``: ``op="load"``, ``decision``,
        ``n_steps``):

        - ``deferred`` — the generated exact compare runs: its checksum
          subsumes every check, which re-runs only on a mismatch;
        - ``eager`` — ``allow_duplication=True``: each check blocks, as
          its count may grow and bounds the later steps;
        - ``background`` — otherwise: each check runs on one worker
          thread, in step order, beside the next step, and ``load``
          awaits the verdicts at its end (after the compare).  The first
          failed check's error wins over any later error of the load.
          A later step's write may therefore be issued before an
          earlier step's check fails: inside ``with db:`` the rollback
          discards it, but a failed load outside a transaction may also
          leave rows of the steps after the failing one.

        Returns the DataFrame with foreign keys materialized.
        """
        self.schema.check_schema_not_empty()
        data = ops.preprocess(data, columns)

        # Pin the running frame: each step triggers several actions and the
        # lineage would otherwise be recomputed quadratically.
        data = data.cache()
        orig_data = data

        plan = self.schema.get_load_instructions(data.columns)
        logger.debug(
            "Load plan: insert_and_retrieve=%s insert=%s",
            plan.insert_and_retrieve_tables,
            plan.insert_tables,
        )

        # One count up front: it PERFORMS the pinned input's one-time
        # materialization (the dedup shuffle runs exactly once either
        # way, so the count is near-free), and the exact bound it yields
        # keeps small dimension payloads on the cheap single-partition
        # surrogate window.  It threads through every step as the bound:
        # a passing merge check returns it unchanged (an eager
        # ``allow_duplication`` check returns the grown count).
        # (Standalone merge_ids/retrieve_ids callers without
        # a known count fuse the input count into the invariant
        # aggregate instead — see ops.check_merge_invariants.  Fusing
        # the first step's count the same way was MEASURED slower here:
        # the unbounded first surrogate ranking falls onto the
        # distributed range-partition path and the fused union fills the
        # unmaterialized cache twice — the count job is the cheaper way
        # to materialize the pin and bound every later step.)
        # Deferred invariants: when the generated exact compare will run,
        # the per-step merge-invariant aggregates are provably redundant
        # on the happy path — a null/missing id drops its row from the
        # reconstruction join and a duplicating merge changes the
        # reconstruction's cardinality, and the compare's checksum
        # aggregate catches both.  Each keyed step then schedules ZERO
        # blocking jobs; the saved check records re-run (in step order,
        # with their original per-table error identity) only when the
        # checksum mismatches.  Excluded when duplication is allowed
        # (fan-out makes the checksum mismatch by design) and for custom
        # or filtered compares (their result set is not the full
        # reconstruction).  Without the fast compare but with duplication
        # disallowed, no later work reads a check's result — only its
        # verdict — so the checks run in the background instead.
        fast_compare = (
            compare
            and exact
            and compare_query is None
            and where is None
            and not allow_duplication
        )
        if allow_duplication:
            decision = "eager"
        elif fast_compare:
            decision = "deferred"
        else:
            decision = "background"
        n_steps = len(plan.insert_and_retrieve)
        logger.info(
            "load merge checks=%s n_steps=%d",
            decision,
            n_steps,
            extra={"op": "load", "decision": decision, "n_steps": n_steps},
        )
        deferred: list[dict] = []
        with _BackgroundChecks(self.spark) as checks:
            running: int | None = None
            for params in plan.insert_and_retrieve:
                if running is None:
                    running = data.count()
                previous = data
                data, running = self._insert_and_retrieve_counted(
                    data,
                    **params,
                    replace=replace,
                    allow_duplication=allow_duplication,
                    deduped=True,
                    known_count=running,
                    cache_result=True,
                    defer_to=None if allow_duplication else deferred,
                )
                # release the superseded cache once the new one is
                # materialized (keep the original pinned for the final
                # compare) — a deep schema must not pin every
                # intermediate.  An eager check has materialized it; a
                # background one materializes it when it finishes.
                release = previous if previous is not orig_data else None
                if decision == "background":
                    checks.submit(deferred.pop(), release=release)
                elif release is not None:
                    release.unpersist()

            # The generated compare reconstructs the flat frame through
            # every inserted table, so it subsumes each plain insert's
            # subset check: a row a write dropped (uniqueness conflict,
            # cast mangling) goes missing from the reconstruction and the
            # compare aggregate reports it.  Delegating saves one
            # full-table scan per fact/linking table per load — only
            # valid for the *generated* unfiltered query.
            compare_covers = compare and compare_query is None and where is None
            for params in plan.insert:
                self.insert(
                    data,
                    **params,
                    _deduped=True,
                    _check_covered_by_compare=compare_covers,
                    _known_count=running,
                )

            if compare:
                delegated = bool(compare_covers and plan.insert)

                def _run_deferred_checks() -> None:
                    # checksum mismatch: re-verify each deferred step's
                    # merge invariants so a failure keeps its precise
                    # per-table identity (the same errors the eager path
                    # raises)
                    for rec in deferred:
                        _check_deferred(rec)

                try:
                    self.compare(
                        orig_data,
                        query=compare_query,
                        where=where,
                        exact=exact,
                        _deduped=True,
                        _missing_first=delegated,
                        _fast=fast_compare,
                        _on_mismatch=_run_deferred_checks if deferred else None,
                    )
                except CompareMissingRowsError as e:
                    if delegated:
                        # rows missing from the reconstruction of a load
                        # that just inserted them = rows that never landed
                        tables = ", ".join(p["table"] for p in plan.insert)
                        raise _insert_failed(tables, e) from e
                    raise
            # awaited last, so the compare overlaps the last checks
            checks.wait()

        result = ops.postprocess(data, columns)
        if orig_data is not data and orig_data is not self._kept_cache:
            orig_data.unpersist()
        return result
