"""Crash-safe incremental CDC consumers over the managed catalog.

:func:`SparkConnector.table_changes` gives a downstream job the rows
each commit added; this module supplies the missing operational half —
the BOOKMARK: where the consumer durably records how far it has
processed, such that a crash anywhere never double-counts and never
loses a commit.

:class:`RollupConsumer` maintains a persistent partial aggregate (a
"materialized rollup") refreshed from the changes feed:

- state lives under one directory: versioned summary parquet dirs
  (``v00000001/``, ...) plus a tiny ``HEAD`` JSON naming the current
  version AND the commit bookmark — ONE file, so the summary and the
  bookmark flip together;
- a refresh writes the new summary to a fresh version directory first,
  then atomically replaces ``HEAD`` (``os.replace`` — POSIX-atomic).
  The flip is the commit point: a crash before it leaves ``HEAD`` on
  the old (summary, bookmark) pair and the replay recomputes the SAME
  delta from the same bookmark — at-least-once execution, exactly-once
  content, the same protocol shape as the streaming fuzzy-dedup
  commit marker (streaming/pipeline.py);
- stale version directories (crashed attempts, superseded summaries)
  are swept on the next successful refresh — never adopted, since a
  crashed attempt's delta may have been computed against a different
  feed head.

Cost per refresh is ``O(groups + rows in (bookmark, head])`` — the
summary is groups-sized and the delta is commit-range-filtered at the
scan (``table_changes``), so a 100 TB warehouse pays for the day's
commits, not the table.

No reference counterpart: the reference's sinks are plain RDBMS tables
with no commit log (connector.py:376-452); incremental consumers are
part of this repo's large-scale-pipeline surface.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from sql_autoloader_spark.functions.scale import merge_rollup

__all__ = ["RollupConsumer"]

_HEAD = "HEAD"


class RollupConsumer:
    """A persistent, bookmarked rollup maintained from a changes feed.

    *keys* are the group-by columns; the *agg* callable passed to
    :meth:`refresh` must map a changes frame to a partial aggregate of
    shape ``keys + sum-mergeable measures`` (counts/sums — keep
    averages as (sum, count) pairs; see
    :func:`~sql_autoloader_spark.functions.scale.merge_rollup`).

    A polling consumer that REOPENS connectors while writers run must
    open them read-side — ``SparkConnector(..., recover=False)`` — or
    reuse one long-lived connector: the default open runs the orphan
    sweep, which cannot distinguish a crashed commit's leftovers from
    a commit in flight right now (proven cross-process in
    tests/test_cross_process.py::test_cross_process_cdc_consumer_converges).

    Operational contracts (OPERATIONS.md, "Incremental consumers"):

    - **One consumer per state dir.** The HEAD flip is last-wins; two
      RollupConsumers sharing one *path* would silently clobber each
      other's (version, bookmark) pairs.  Run one consumer process per
      rollup; scale by sharding rollups, not by racing consumers.
    - **The state dir must be a driver-local POSIX path.** The crash
      protocol leans on ``os.replace``/``os.rename`` atomicity and on
      the driver and Spark's parquet writer sharing one namespace —
      true for a local (or POSIX-shared, e.g. NFS-mounted) filesystem,
      NOT for object stores.  ``__init__`` rejects URI schemes other
      than ``file:`` outright rather than corrupting silently.
    - **Vacuum must not cross a live bookmark.** ``refresh`` re-checks
      the journal floor after materializing its delta and errors if a
      concurrent vacuum folded commits inside the range; size
      ``vacuum_commits(retain_last=N)`` to the slowest consumer's lag.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        keys: list[str],
        combine: dict[str, str] | None = None,
    ) -> None:
        scheme = path.split("://", 1)[0] if "://" in path else "file"
        if scheme != "file":
            msg = (
                f"RollupConsumer state dir must be a driver-local POSIX "
                f"path (got scheme '{scheme}'): the atomic HEAD flip "
                "uses os.replace, which object-store paths cannot honor."
            )
            raise ValueError(msg)
        self.spark = spark
        self.path = path.removeprefix("file://")
        self.keys = list(keys)
        #: per-measure combinators for the merge ("sum" default;
        #: "min"/"max"/"hll_union"/"vector_sum"/"topk<k>" supported —
        #: see merge_rollup)
        self.combine = dict(combine) if combine else None
        os.makedirs(path, exist_ok=True)

    # -- state ---------------------------------------------------------

    def head(self) -> dict:
        """The durable (version, bookmark) pair; zeros before the first
        refresh."""
        try:
            with open(os.path.join(self.path, _HEAD)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"version": 0, "bookmark": 0}

    def summary(self) -> DataFrame | None:
        """The current materialized rollup (None before the first
        refresh).  Reads the version ``HEAD`` names — never a staging
        or orphaned directory."""
        h = self.head()
        if h["version"] == 0:
            return None
        return self.spark.read.parquet(self._version_dir(h["version"]))

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:08d}")

    def _flip_head(self, state: dict) -> None:
        """Atomically publish *state* — the refresh's commit point."""
        tmp = os.path.join(self.path, f"{_HEAD}.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(state, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.path, _HEAD))

    def _sweep(self, keep_version: int) -> None:
        """Remove superseded/orphaned version dirs and HEAD temps.

        Only after a successful flip: anything that is not the current
        version is either an old summary or a crashed attempt whose
        delta may have been computed against a different feed head —
        swept, never adopted."""
        # the previous version survives one extra cycle so a reader
        # holding the prior summary() frame is not yanked mid-scan
        keep = {f"v{keep_version:08d}", f"v{keep_version - 1:08d}"}
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if name == _HEAD or name in keep:
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(f"{_HEAD}.tmp-"):
                os.unlink(full)

    # -- refresh -------------------------------------------------------

    def refresh(
        self,
        db,  # noqa: ANN001 — SparkConnector (managed-catalog mode)
        table: str,
        agg: Callable[[DataFrame], DataFrame],
    ) -> dict:
        """Fold every commit in ``(bookmark, head]`` into the rollup.

        No-op (no new version) when the warehouse has nothing new.
        Raises the underlying ``ValueError`` when the bookmark has
        fallen below the warehouse's vacuum horizon — call
        :meth:`rebaseline` then (size ``vacuum_commits(retain_last=N)``
        to your slowest consumer's lag to avoid it; OPERATIONS.md).
        """
        h = self.head()
        history = db.commit_history()
        head_commit = history[-1] if history else 0
        if head_commit <= h["bookmark"]:
            return h
        # a polling consumer reads a table OTHER processes append to:
        # this session's cached file index would otherwise serve stale
        # scans (the journal said "commit N is durable" but the cached
        # listing predates N's files)
        self.spark.catalog.refreshTable(db._qualified(table))
        # a polling refresh must PRESERVE the streaming fold's
        # stream_batch id: stream_rollup's replay guard is
        # "batch_id <= head[stream_batch]", and a consumer may legally
        # alternate between polling and streaming — if a stream crashed
        # after its HEAD flip but before the checkpoint commit, dropping
        # the key here would make the replayed micro-batch unrecognized
        # and double-counted
        carry = (
            {"stream_batch": h["stream_batch"]} if "stream_batch" in h else {}
        )
        delta = agg(db.table_changes(table, h["bookmark"], head_commit))
        state = self._fold(db, h, delta, head_commit, **carry)
        if state is None:
            # new commits, none touching THIS table: advance the
            # bookmark without writing a summary version — an empty
            # parquet write would leave an unreadable (schema-less)
            # version dir, and rewriting the old summary buys nothing
            state = {"version": h["version"], "bookmark": head_commit, **carry}
            self._flip_head(state)
        return state

    def _fold(
        self,
        db,  # noqa: ANN001 — SparkConnector (managed-catalog mode)
        head: dict,
        delta: DataFrame,
        bookmark: int,
        **extra,
    ) -> dict | None:
        """Merge the partial aggregate *delta* of the commits after
        ``head["bookmark"]`` into the summary and publish it as the
        next version with *bookmark* (and *extra*, see
        :meth:`_publish`); None, writing nothing, when *delta* is
        empty.  The one fold of :meth:`refresh` and ``stream_rollup``.
        """
        # persist + count ONCE: the count materializes the groups-sized
        # delta, so the merge/write below reads the cache — one job
        # runs the commit-range scan
        delta = delta.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_groups = delta.count()
            # vacuum RE-check after materialization: a vacuum that
            # folded commits of our range mid-scan retagged their rows
            # to token 0, so the delta may under-report (even to
            # empty), and advancing the bookmark would lose those rows
            # for good.  Guard on the INTENT, not the floor: ordering
            # is intent marker -> table rewrite -> floor file, so a
            # floor-only check passes in the post-rewrite pre-floor
            # window; intent collapses to floor once the vacuum ends.
            _, _floor, intent = db._journal.state()
            if intent > head["bookmark"]:
                msg = (
                    f"a concurrent vacuum through commit {intent} "
                    f"overlaps this consumer's bookmark {head['bookmark']} "
                    "while the fold was in flight; the delta may be "
                    "partial — rerun it (it will error on the horizon) "
                    "or rebaseline()."
                )
                raise ValueError(msg)
            if n_groups == 0:
                return None
            old = self.summary()
            new = delta if old is None else merge_rollup(
                old, delta, keys=self.keys, combine=self.combine
            )
            return self._publish(new, head["version"] + 1, bookmark, **extra)
        finally:
            delta.unpersist()

    def rebaseline(
        self,
        db,  # noqa: ANN001 — SparkConnector (managed-catalog mode)
        table: str,
        agg: Callable[[DataFrame], DataFrame],
    ) -> dict:
        """Rebuild the rollup from the current table snapshot (one full
        aggregate) and move the bookmark to the head — the recovery
        path for a consumer that lagged past the vacuum horizon."""
        history = db.commit_history()
        head_commit = history[-1] if history else 0
        self.spark.catalog.refreshTable(db._qualified(table))
        snapshot = db.read_table_as_of(table, head_commit)
        return self._publish(
            agg(snapshot), self.head()["version"] + 1, head_commit
        )

    def _publish(
        self, summary: DataFrame, version: int, bookmark: int, **extra
    ) -> dict:
        """*extra* rides the HEAD json in the SAME atomic flip (e.g.
        the streaming fold's ``stream_batch`` id — a second flip would
        open a crash window where the summary advanced but the replay
        guard didn't, double-counting the replayed batch)."""
        target = self._version_dir(version)
        if os.path.exists(target):
            # a crashed attempt renamed its staging dir but died before
            # the flip; its content may reflect a different feed head —
            # rebuild, never adopt
            shutil.rmtree(target)
        staging = f"{target}.staging-{uuid.uuid4().hex[:8]}"
        summary.write.mode("overwrite").parquet(staging)
        os.rename(staging, target)
        state = {"version": version, "bookmark": bookmark, **extra}
        self._flip_head(state)  # <- commit point
        self._sweep(version)
        return state
