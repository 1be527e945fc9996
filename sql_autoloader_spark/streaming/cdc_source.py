"""Streaming CDC source over the managed catalog's commit journal.

``SparkConnector.table_changes`` (spark_catalog.py) serves a commit
range as a BATCH frame; this module makes the same feed
``readStream``-able — the Delta-CDF-streaming analogue for
SparkConnector warehouses, so incremental consumers can subscribe
instead of polling.  Built on the PySpark Python Data Source API
(pyspark.sql.datasource, Spark 4): each micro-batch serves exactly the
commits in ``(lastOffset, head]``,

- OFFSETS are commit ids straight from the manifest journal — one
  directory listing per trigger, no data touched to discover progress
  (the journal contract: ``<cid>.commit`` files, content = row token;
  ``<N>.floor`` = vacuum horizon);
- PARTITIONS come straight from the commits' FILE MANIFESTS
  (``<token>.manifest``, written by the committer beside the journal,
  r15+): a trigger plans exactly the files the batch's commits renamed
  in — O(commits in range), zero directory walks, zero footer opens.
  The journal and its manifests are decoded by the catalog's own
  functions (``spark_catalog._decode_journal`` / ``_manifest_files``),
  here over ``os`` instead of Hadoop FS.
  Pre-manifest commits and post-compaction stale manifests fall back
  to the walk + row-group footer pruning on the ``_commit`` token
  column (a file none of whose row groups intersect the batch's token
  set is never opened — the streaming twin of the batch feed's pushed
  In-filter);
- each partition READS its file through pyarrow with the token-set
  filter, maps physical tokens back to user-facing commit ids, and
  yields Arrow record batches (vectorized end to end, no per-row
  Python).

Exactly-once: offsets live in the stream's checkpoint like any Spark
source; replays of an uncommitted micro-batch re-serve the identical
commit range (commit files are immutable).  The vacuum horizon is
re-checked at every planning step — a feed whose next offset has
fallen below it fails LOUDLY (rebaseline, as with the batch feed),
never serving a silently folded partial range.

At 100 TB the economics match the batch feed: a trigger pays one
journal listing plus one tiny manifest read per commit in the batch —
the table's file count never enters the planning cost — never a
snapshot diff.  The journal and data paths must be
driver+executor-visible (the same shared-filesystem contract as the
catalog itself).

No reference counterpart: the reference's sinks are plain RDBMS
tables with no commit log (reference connector.py:376-452); streaming
CDC is part of this repo's large-scale-pipeline surface.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from sql_autoloader_spark.connectors.spark_catalog import (
    _decode_journal,
    _manifest_files,
)

__all__ = [
    "TableChangesDataSource",
    "read_changes_stream",
    "read_warehouse_changes_stream",
    "stream_rollup",
]

# the physical per-row token column (spark_catalog._COMMIT_COL)
_COMMIT_COL = "__commit_id"


#: per-process journal-state memo: {dir: (dir mtime_ns, state)}.
#: Planning calls _journal_state at least twice per trigger
#: (latestOffset, then partitions) and once per trigger per stream
#: when several streams of one warehouse share a planning process;
#: a long-lived processingTime subscription re-lists an IDLE journal
#: every interval.  The memo turns all of those into one stat(2).
_STATE_MEMO: dict[str, tuple[int, tuple[dict[int, int], int, int]]] = {}

#: quiescence guard for the memo, in ns: a directory whose mtime is
#: within this window of 'now' is served fresh and NOT memoized — a
#: commit landing in the same mtime tick as our stat could otherwise
#: pin a stale state until the next directory change
_MEMO_SETTLE_NS = 50_000_000


def _reader(root: str) -> Callable[[str], str]:
    """The journal file reader of ``_decode_journal`` over ``os``."""

    def read(name: str) -> str:
        with open(os.path.join(root, name)) as fh:
            return fh.read()

    return read


def _journal_state(journal_dir: str) -> tuple[dict[int, int], int, int]:
    """``(visible {cid: token}, floor, intent)`` of the journal at
    *journal_dir*: one ``os.listdir`` decoded by the catalog's own
    ``_decode_journal``, usable inside data-source workers where no
    SparkSession exists.

    Memoized on the directory's mtime, stat-BEFORE-list so any
    modification after the stat invalidates the entry; only quiescent
    directories (mtime older than the settle window) are stored, and
    only complete reads (no mid-publish skip) — both so a stale entry
    can never outlive the journal state it mirrors."""
    try:
        mtime_ns = os.stat(journal_dir).st_mtime_ns
        memo = _STATE_MEMO.get(journal_dir)
        if memo is not None and memo[0] == mtime_ns:
            return memo[1]
        names = os.listdir(journal_dir)
    except FileNotFoundError:
        return {}, 0, 0
    visible, floor, intent, complete = _decode_journal(
        names, _reader(journal_dir)
    )
    state = (visible, floor, intent)
    if complete and time.time_ns() - mtime_ns > _MEMO_SETTLE_NS:
        _STATE_MEMO[journal_dir] = (mtime_ns, state)
    return state


def _checkpoint_anchor(checkpoint_dir: str) -> int | None:
    """The stream's own last planned offset, read from its checkpoint's
    ``offsets/`` log (the standard Structured Streaming offset-seq
    format: "v1" header, metadata line, one offset JSON per source).
    Used to anchor the rate limit EXACTLY in every mode — Spark calls
    ``latestOffset`` before ``initialOffset`` (traced on 4.1), so
    without this the prepare-time snapshot has no start to cap
    against.  Returns None on a fresh/absent checkpoint."""
    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    try:
        batches = [n for n in os.listdir(offsets_dir) if n.isdigit()]
    except FileNotFoundError:
        return None
    if not batches:
        return None
    latest = max(batches, key=int)
    try:
        with open(os.path.join(offsets_dir, latest)) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        val = json.loads(lines[-1])
        if isinstance(val, str):  # offset serialized as a JSON string
            val = json.loads(val)
        return int(val["commit"])
    except (OSError, ValueError, KeyError, IndexError, TypeError):
        return None


def _list_parquet(location: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(location):
        # never descend into in-flight staging or metadata dirs
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return sorted(out)


class _ChangesPartition(InputPartition):
    def __init__(self, path: str, tok2cid: str) -> None:
        self.path = path
        self.tok2cid = tok2cid  # JSON {token: cid} — picklable, compact


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options) -> None:  # noqa: ANN001
        self._location = options["location"]
        self._journal = options["journal"]
        #: the table's key in the commit manifests (a managed table's
        #: directory is named after it)
        self._table = options.get("table") or os.path.basename(
            self._location.rstrip("/")
        )
        self._from = int(options.get("fromcommit", 0))
        self._schema = schema
        #: micro-batch rate limit: at most N commits per planned batch
        #: (0 = unlimited).  Bounds replay batches when a consumer
        #: returns from a long absence — a week's backlog drains as
        #: many bounded batches instead of one giant one (the Delta
        #: maxFilesPerTrigger analogue, in commit units).  The Python
        #: source API passes no start offset to latestOffset (and
        #: Spark calls it BEFORE initialOffset, traced on 4.1), so the
        #: exact anchor comes from the stream's own checkpoint when
        #: the ``checkpoint`` option names it (read_changes_stream
        #: wires this automatically); without it the cap anchors on
        #: the reader's in-run progress watermark — first planned
        #: batch uncapped, every later one bounded.
        self._cap = int(options.get("maxcommitspertrigger", 0))
        self._checkpoint = options.get("checkpoint") or None
        self._watermark: int | None = None
        self._cols = [f.name for f in schema.fields]

    # -- offsets ---------------------------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802
        self._watermark = self._from
        return {"commit": self._from}

    def latestOffset(self) -> dict:  # noqa: N802
        visible, floor, _intent = _journal_state(self._journal)
        head = max(max(visible, default=floor), self._from)
        if self._cap:
            anchor = self._watermark
            if self._checkpoint is not None:
                ck = _checkpoint_anchor(self._checkpoint)
                anchor = (
                    max(ck, anchor or 0)
                    if ck is not None
                    # empty checkpoint ⇒ genuinely fresh ⇒ _from is
                    # the true start, cap the very first batch too
                    else (anchor if anchor is not None else self._from)
                )
            if anchor is not None:
                head = min(head, anchor + self._cap)
        return {"commit": max(head, self._from)}

    # -- planning --------------------------------------------------------

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        lo, hi = start["commit"], end["commit"]
        # progress watermark for the rate limit (also re-anchors it
        # after a restart, where initialOffset is never called)
        self._watermark = max(self._watermark or 0, hi)
        visible, floor, intent = _journal_state(self._journal)
        if lo < intent:
            if intent > floor:
                msg = (
                    f"a vacuum through commit {intent} is in progress; "
                    f"the streamed range starting at {lo} is unreadable "
                    "until it completes (reopen a connector to complete "
                    "a crashed one) — same contract as the batch feed."
                )
            else:
                msg = (
                    "streaming changes feed fell below the vacuum "
                    f"horizon: next offset {lo} < floor {floor}; commits "
                    "at or below the floor were folded into the base — "
                    "rebaseline the consumer (read_table_as_of + a fresh "
                    "fromCommit), the same recovery as the batch feed."
                )
            raise ValueError(msg)
        tok2cid = {
            tok: cid for cid, tok in visible.items() if lo < cid <= hi
        }
        tokens = set(tok2cid)
        payload = json.dumps(tok2cid)
        parts: list[InputPartition] = []
        if tok2cid:
            # manifest fast path (r15+): every commit records the files
            # it renamed in, so a trigger plans from O(commits in the
            # batch) manifest reads — no directory walk, no footer
            # opens.  Falls back to walk+footer-prune on pre-manifest
            # commits or post-compaction stale manifests.
            fast = _manifest_files(
                _reader(self._journal),
                os.path.isfile,
                self._table,
                self._location,
                tokens,
            )
            if fast is not None:
                parts.extend(
                    _ChangesPartition(path, payload) for path in fast
                )
            else:
                for path in _list_parquet(self._location):
                    if self._file_may_contain(path, tokens):
                        parts.append(_ChangesPartition(path, payload))
        if not parts:
            # offsets advanced on commits that touched only OTHER
            # tables (the journal is warehouse-global) — an empty
            # batch still needs one planned partition
            parts.append(_ChangesPartition("", "{}"))
        return parts

    @staticmethod
    def _file_may_contain(path: str, tokens: set[int]) -> bool:
        """Row-group footer pruning on the _commit column: a file whose
        every row group's [min, max] misses every wanted token is never
        scanned.  Missing statistics degrade to 'maybe' (read it)."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
        except OSError:
            return True
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        if _COMMIT_COL not in idx:
            return True
        col = idx[_COMMIT_COL]
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(col).statistics
            if stats is None or not stats.has_min_max:
                return True
            if any(stats.min <= t <= stats.max for t in tokens):
                return True
        return False

    # -- reading ---------------------------------------------------------

    def read(self, partition: InputPartition) -> Iterator:  # type: ignore[override]
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        if not partition.path:  # planned empty batch
            return
        from pyspark.sql.pandas.types import to_arrow_type

        arrow_types = {
            f.name: to_arrow_type(f.dataType) for f in self._schema.fields
        }
        # Hive-layout partition columns live in the PATH, not the file
        # (…/source=web/part-….parquet): parse them so partitioned
        # managed tables stream like flat ones
        hive_cols = {}
        from urllib.parse import unquote

        for seg in partition.path.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                hive_cols[k] = unquote(v)
        tok2cid = {int(k): v for k, v in json.loads(partition.tok2cid).items()}
        tokens = pa.array(list(tok2cid), pa.int64())
        cids = pa.array([tok2cid[t] for t in tok2cid], pa.int64())
        data = ds.dataset(partition.path, format="parquet")
        scanner = data.scanner(
            filter=ds.field(_COMMIT_COL).isin(tokens)
        )
        for batch in scanner.to_batches():
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            # token -> user-facing commit id, vectorized: index into the
            # (tiny) batch token list, then gather the matching cids
            idx = pc.index_in(tbl.column(_COMMIT_COL), value_set=tokens)
            n = tbl.num_rows
            out = []
            for col in self._cols:
                if col == "_commit_id":
                    out.append(pc.take(cids, idx))
                elif col == "_change_type":
                    out.append(pa.array(["insert"] * n, pa.string()))
                elif col in tbl.column_names:
                    out.append(
                        pc.cast(tbl.column(col), arrow_types[col])
                    )
                elif col in hive_cols:
                    v = hive_cols[col]
                    out.append(
                        pa.nulls(n, arrow_types[col])
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else pc.cast(
                            pa.array([v] * n, pa.string()),
                            arrow_types[col],
                        )
                    )
                else:
                    # schema evolution: a file written before ALTER
                    # TABLE ADD COLUMN lacks the column — null-fill,
                    # the same semantics Spark's own parquet reader
                    # gives evolved batch scans
                    out.append(pa.nulls(n, arrow_types[col]))
            yield from pa.Table.from_arrays(
                out, names=self._cols
            ).to_batches()

    def commit(self, end: dict) -> None:
        pass


class TableChangesDataSource(DataSource):
    """``spark.readStream.format("table_changes_feed")`` — register
    with ``spark.dataSource.register(TableChangesDataSource)`` or use
    :func:`read_changes_stream`.  Options: ``location`` (table data
    dir), ``journal`` (the warehouse's ``_sql_autoloader_commits``
    dir), ``table`` (the table's name, its key in the commit
    manifests; default: the last segment of ``location``),
    ``fromCommit`` (initial bookmark, default 0).  Pass the
    output schema via ``.schema(...)`` — table columns plus
    ``_commit_id bigint, _change_type string``."""

    @classmethod
    def name(cls) -> str:
        return "table_changes_feed"

    def streamReader(self, schema):  # noqa: ANN001, ANN201, N802
        return _ChangesStreamReader(schema, self.options)


def read_changes_stream(  # noqa: ANN201
    db,  # noqa: ANN001
    table: str,
    *,
    from_commit: int = 0,
    max_commits_per_trigger: int = 0,
    checkpoint_dir: str | None = None,
):
    """A streaming DataFrame of *table*'s changes feed from the managed
    catalog *db*, starting after *from_commit* — the readStream twin of
    ``db.table_changes(table, from_commit)``; same output schema, same
    vacuum-horizon contract, offsets checkpointed by the stream.
    *max_commits_per_trigger* bounds each micro-batch's commit range
    (0 = unlimited) so a backlog drains as many bounded batches; pass
    the SAME *checkpoint_dir* you give ``writeStream`` so the cap can
    anchor on the stream's true position in every mode (without it the
    first planned batch of each run is uncapped)."""
    spark = db.spark
    if getattr(read_changes_stream, "_registered", None) is not spark:
        spark.dataSource.register(TableChangesDataSource)
        read_changes_stream._registered = spark
    base = spark.table(db._qualified(table)).schema
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in base.fields
        if f.name != _COMMIT_COL
    )
    location = db._table_location(table)
    journal = db._journal._dir
    for path in (location, journal):
        scheme = path.split("://", 1)[0] if "://" in path else "file"
        if scheme not in ("file", "file:"):
            # the reader's journal listing and footer pruning run on
            # python os/pyarrow local IO — a remote-FS warehouse would
            # silently stream an EMPTY feed; refuse loudly instead
            # (the batch table_changes path covers remote warehouses)
            msg = (
                f"read_changes_stream requires a locally-mounted "
                f"warehouse path (got scheme '{scheme}' in {path!r}); "
                "use the batch table_changes feed for remote "
                "filesystems."
            )
            raise ValueError(msg)
    for prefix in ("file://", "file:"):
        location = location.removeprefix(prefix)
        journal = journal.removeprefix(prefix)
    stream = (
        spark.readStream.format("table_changes_feed")
        .schema(f"{fields}, `_commit_id` BIGINT, `_change_type` STRING")
        .option("location", location)
        .option("journal", journal)
        .option("table", table)
        .option("fromCommit", str(from_commit))
        .option("maxCommitsPerTrigger", str(max_commits_per_trigger))
        .option("checkpoint", checkpoint_dir or "")
        .load()
    )
    # user-facing half of any registered dtype adapters, same as the
    # batch feed (spark_catalog._decode_adapters)
    return db._decode_adapters(stream)


def read_warehouse_changes_stream(  # noqa: ANN201
    db,  # noqa: ANN001 — SparkConnector (managed-catalog mode)
    tables: Sequence[str],
    *,
    from_commit: int = 0,
    max_commits_per_trigger: int = 0,
    checkpoint_root: str | None = None,
) -> dict:
    """One streaming changes feed per *table* of a warehouse —
    ``{table: DataFrame}`` — the multi-table subscription shape for a
    consumer maintaining several rollups off one commit journal.

    Spark streams are single-schema, so a warehouse subscription IS N
    per-table streams; what makes that affordable is the shared
    journal economics: offsets come from the commit journal (one
    ``stat(2)`` + at most one listing per trigger per planning
    process — the mtime memo serves repeated and idle triggers
    without re-listing) and partitions come from the per-commit file
    manifests (O(commits in the batch) tiny JSON reads; a commit that
    touched only other tables contributes ZERO files to this table's
    batch).  Per-trigger planning cost is therefore independent of
    both the table count's data volume and the warehouse's total file
    count — pinned by
    tests/test_streaming.py::test_warehouse_multi_stream_trigger_cost.

    *checkpoint_root*, when given, wires each stream's rate-limit
    anchor to ``<root>/<table>`` — pass the SAME per-table paths to
    each ``writeStream.option("checkpointLocation", ...)``."""
    return {
        t: read_changes_stream(
            db,
            t,
            from_commit=from_commit,
            max_commits_per_trigger=max_commits_per_trigger,
            checkpoint_dir=(
                os.path.join(checkpoint_root, t) if checkpoint_root else None
            ),
        )
        for t in tables
    }


def stream_rollup(  # noqa: ANN201
    db,  # noqa: ANN001 — SparkConnector (managed-catalog mode)
    table: str,
    consumer,  # noqa: ANN001 — connectors.consumer.RollupConsumer
    agg,  # noqa: ANN001 — Callable[[DataFrame], DataFrame]
    *,
    checkpoint_dir: str,
    from_commit: int = 0,
    max_commits_per_trigger: int = 0,
    trigger: dict | None = None,
):
    """PUSH-based incremental view maintenance: maintain *consumer*'s
    rollup from the STREAMING changes feed instead of polling
    ``consumer.refresh``.  Each micro-batch folds its delta into the
    versioned summary under the same atomic HEAD-flip protocol; the
    HEAD additionally records the folded ``stream_batch`` id, so a
    replayed micro-batch (foreachBatch is at-least-once) is skipped —
    exactly-once summary content, the streaming twin of the polling
    refresh's bookmark discipline.  ``bookmark`` stays the max folded
    commit id, so a consumer can switch between polling and streaming.

    Returns the started ``StreamingQuery``.  *trigger* picks the
    subscription mode (the two production shapes of the push tier):

    - ``None`` / ``{"availableNow": True}`` (default) — drain
      everything committed, then stop; re-call to drain again (the
      batch-ish shape: cron-friendly, no resident driver).
    - ``{"processingTime": "10 seconds"}`` — a LONG-LIVED
      subscription: the query stays up and folds new commits every
      interval (an idle interval costs one journal stat + listing,
      memoized).  Stop it with ``query.stop()`` — Spark finishes or
      abandons the in-flight micro-batch, and either is safe: a batch
      that folded but didn't checkpoint replays next start and is
      skipped by the stream_batch guard, one that never folded
      replays whole (OPERATIONS.md, "Live subscriptions / stopping").

    *checkpoint_dir* and the consumer's state dir are LIFETIME-PAIRED:
    batch ids are per-checkpoint, so pointing a fresh checkpoint at a
    populated consumer would replay ids the bookmark already covers
    and silently skip real batches — recover a lost checkpoint with
    ``consumer.rebaseline`` + a fresh (checkpoint, state dir) pair.
    """
    from pyspark import StorageLevel

    stream = read_changes_stream(
        db,
        table,
        from_commit=from_commit,
        max_commits_per_trigger=max_commits_per_trigger,
        checkpoint_dir=checkpoint_dir,
    )

    def fold(batch, batch_id) -> None:  # noqa: ANN001
        from pyspark.sql import functions as F

        head = consumer.head()
        if batch_id <= head.get("stream_batch", -1):
            return  # replayed batch, already folded — the bookmark skip
        # clip to commits the bookmark has NOT folded yet: a consumer
        # that alternated polling refreshes with streaming (the
        # documented switch) may have advanced the bookmark past the
        # stream's checkpoint position, so a restarted stream re-serves
        # already-folded commits under a FRESH batch id — the batch_id
        # guard alone cannot see that, the commit-id clip can
        batch = batch.where(
            F.col("_commit_id") > F.lit(head["bookmark"])
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            max_cid = batch.agg(F.max("_commit_id")).first()[0]
            if max_cid is None:
                return  # empty replay/no-op batch: nothing to fold
            # ONE flip carries (version, bookmark, stream_batch)
            # together — a separate stream_batch flip would open a
            # crash window that double-counts the replayed batch
            consumer._fold(
                db,
                head,
                agg(batch),
                max(max_cid, head["bookmark"]),
                stream_batch=batch_id,
            )
        finally:
            batch.unpersist()

    trigger = dict(trigger) if trigger else {"availableNow": True}
    allowed = {"availableNow", "processingTime"}
    if set(trigger) - allowed or len(trigger) != 1:
        msg = (
            f"trigger must be exactly one of {sorted(allowed)}, got "
            f"{trigger!r} (continuous= has no foreachBatch support, "
            "once= is deprecated upstream)"
        )
        raise ValueError(msg)
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
