"""Structured Streaming operators.

The reference is a batch-only loader; this module is the green-field
streaming extension (SURVEY §2G): the same declarative ``load`` applied
per micro-batch via ``foreachBatch``, plus the standard event-stream
operators (watermarked tumbling/session windows, within-watermark
dedup).

Scale notes:
- ``foreachBatch`` gives the loader exactly-once-per-batch semantics on
  top of the sink's own idempotent insert (left-anti against existing
  keys), so replayed batches are no-ops — end-to-end idempotence.
- Watermarks bound the state store: tumbling windows keep one row per
  (window, keys) until the watermark passes; ``dropDuplicatesWithinWatermark``
  keeps one fingerprint per key within the lateness horizon.
- All aggregations below are keyed on (window/session, low-cardinality
  keys): state and shuffle stay proportional to distinct keys, not to
  event volume.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import StreamingQuery

    from sql_autoloader_spark.connectors.base import BaseConnector


#: the spilling state store (ships with Spark: rocksdbjni is a bundled
#: jar), for ``spark.sql.streaming.stateStore.providerClass``.  The
#: stateful operators here run on whatever provider the session names
#: at stream start (the provider is then persisted in the checkpoint);
#: OPERATIONS.md "Session settings" says why production sessions should
#: name this one.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

#: :func:`fuzzy_dedup_stream` broadcasts a micro-batch's band keys (and
#: its dropped-id set) into its joins only at or below this many keys;
#: above it the joins are left to AQE (see the admitter's probe comment)
PROBE_BROADCAST_MAX_KEYS = 4_000_000

_log = logging.getLogger("sql_autoloader_spark")


def autoload_stream(
    connector: BaseConnector,
    stream: DataFrame,
    *,
    columns: dict[str, str] | None = None,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously auto-load a stream into the relational schema.

    Each micro-batch runs the full declarative ``load`` lifecycle
    (plan → dedup → idempotent insert → key merge) inside the
    connector's transaction bracket; the sink's natural-key anti-join
    makes replayed batches no-ops, so checkpoint-replay after failure
    is safe (effectively exactly-once table content).

    Validation compare is off per batch — a batch sees only its own
    slice, so reconstructing the full flat frame would false-negative;
    run ``connector.compare`` over the union after the stream stops.
    """

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        with connector:
            connector.load(batch, columns=columns, compare=False)

    writer = stream.writeStream.foreachBatch(load_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts + value sums per key.

    Late rows beyond *watermark* are dropped and their window state is
    evicted — bounded state regardless of stream length.
    """
    keys = keys if keys is not None else ["event_type"]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: activity bursts per user separated by *gap*."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), user_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def user_activity_state(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user activity totals (event count, value sum, first/last seen)
    emitted when the user goes quiet for *timeout_ms* of processing time.

    This is the escape hatch for aggregation semantics the built-in
    windows can't express (emit-on-timeout with arbitrary state shape).
    State per key is one small tuple; the state store is bounded by
    |active users|, and timeouts evict.  Arrow-batched like any pandas
    exchange.  The output key column's type follows the stream's actual
    ``user_col`` type (string user ids work), and the summed column is
    configurable via ``value_col``.
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    key_type = stream.schema[user_col].dataType.simpleString()
    output_schema = (
        f"{user_col} {key_type}, n_events bigint, sum_value double,"
        " first_seen timestamp, last_seen timestamp"
    )
    state_schema = (
        "n bigint, total double, first_seen timestamp, last_seen timestamp"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415

        if state.hasTimedOut:
            (n, total, first_seen, last_seen) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "n_events": [n],
                    "sum_value": [total],
                    "first_seen": [first_seen],
                    "last_seen": [last_seen],
                }
            )
            return
        n, total, first_seen, last_seen = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
            batch_min = pdf[ts_col].min()
            batch_max = pdf[ts_col].max()
            first_seen = batch_min if first_seen is None else min(first_seen, batch_min)
            last_seen = batch_max if last_seen is None else max(last_seen, batch_max)
        state.update((n, total, first_seen, last_seen))
        state.setTimeoutDuration(timeout_ms)
        yield from ()  # nothing emitted until timeout

    return (
        stream.groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def dedup_stream(
    stream: DataFrame,
    *,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate events per *keys* within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the watermark passes — the streaming analogue of the
    loader's global pre-insert dedup, with bounded state.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: each *left* row pairs
    with the *right* rows sharing its key whose timestamp lies in
    ``[left_ts, left_ts + max_delay]`` (attribution joins: purchase ←
    preceding clicks, impression ← conversions, ...).

    Both sides carry watermarks and the join condition is time-bounded
    in BOTH directions, which is what lets Structured Streaming evict
    buffered rows: each side's state holds only ``max_delay + watermark``
    worth of events per key — bounded by rate × horizon, not by stream
    length.  At 100 TB/day this is the only join shape that does not
    accumulate unbounded state.

    Column names must be disjoint except for *on* (rename upstream);
    the timestamp columns stay distinct so the caller can compute
    delays downstream.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark).withColumnRenamed(
        on, "__rkey"
    )
    cond = (
        (F.col(on) == F.col("__rkey"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, on=cond, how="inner").drop("__rkey")


def fuzzy_dedup_stream(
    stream: DataFrame,
    *,
    id_col: str,
    text_col: str,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Streaming NEAR-duplicate admission: each micro-batch of documents
    is MinHash-banded and admitted only if no LSH band bucket collides
    with the already-admitted corpus — the continuous-ingest form of
    corpus dedup (a new crawl shard arrives, near-dups of anything
    already admitted are dropped, survivors land append-only and extend
    the dedup state).

    Where :func:`dedup_stream` needs exact key equality and bounds its
    state by a watermark, near-dup admission must remember the corpus
    FOREVER — the state is the parquet *signature store* at
    ``store_path`` (``band: int, bucket: bigint``, ~``bands`` rows per
    admitted doc — tiny relative to text), appended per batch inside
    ``foreachBatch``.  Admission rule, deterministic and set-based (no
    per-row iteration):

    - a document is dropped iff some band bucket of its signature
      appears in the store, OR appears for a LOWER-id document of the
      same batch (within-batch keep-first; conservative — a doc whose
      only collision partner was itself dropped still drops, the
      standard aggressive-dedup trade);
    - admitted documents append their band keys to the store and their
      rows to ``out_path``.

    Candidate-level dropping (no exact-Jaccard verify) is deliberate for
    the ingest path: at admission time a false-positive drop costs one
    document, a false-negative admit costs a near-dup in the corpus —
    tune ``bands``/``num_hashes`` for the S-curve, or run the batch
    :func:`~sql_autoloader_spark.functions.dedup.minhash_lsh_pairs`
    (with verification) over the admitted corpus as a backstop.

    Replays are idempotent end-to-end, by a per-batch commit protocol
    (``foreachBatch`` only guarantees at-least-once delivery, and the
    two sinks — corpus and signature store — cannot be appended
    atomically together):

    - every batch's outputs are tagged (a ``__batch`` stream+batch
      partition in the corpus, a per-attempt ``__token`` column in the
      store), and a one-row marker lands in ``<store_path>__commits``
      only after both writes succeed — that marker append is the commit
      point;
    - an already-committed (stream, batch) is skipped outright on
      replay;
    - an uncommitted replay re-runs deterministically: the admission
      decision reads only *committed* store keys (a half-written store
      append from the crashed attempt is invisible), and the corpus
      write dynamically overwrites its own ``__batch`` partition
      instead of appending — no duplicate rows, no lost rows,
      regardless of where the previous attempt died.

    Readers wanting committed-rows-only semantics mid-stream can join
    the corpus against the marker table; once the stream is caught up
    the corpus content is exactly the committed admissions.

    LAYOUT NOTE: ``out_path`` must be fresh or already
    ``__batch``-partitioned.  A directory holding flat (pre-protocol)
    parquet files cannot take partitioned appends — Spark's partition
    discovery rejects mixed layouts; migrate such a corpus once by
    rewriting it under a single ``__batch=legacy`` partition.
    """
    admit_batch = _fuzzy_admitter(
        id_col=id_col,
        text_col=text_col,
        store_path=store_path,
        out_path=out_path,
        checkpoint_dir=checkpoint_dir,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
    )
    writer = stream.writeStream.foreachBatch(admit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _log_admit(decision: str, batch_id: int, n_keys: int | None = None) -> None:
    """The one decision record of an admitter call: ``broadcast`` or
    ``shuffle`` (:data:`PROBE_BROADCAST_MAX_KEYS`), or ``skip``."""
    _log.info(
        "fuzzy_admit decision=%s batch_id=%s n_keys=%s",
        decision,
        batch_id,
        n_keys,
        extra={
            "op": "fuzzy_admit",
            "decision": decision,
            "batch_id": batch_id,
            "n_keys": n_keys,
        },
    )


def _fuzzy_admitter(
    *,
    id_col: str,
    text_col: str,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
):
    """Build :func:`fuzzy_dedup_stream`'s per-batch admit function.

    Split out so the commit protocol is testable without orchestrating a
    real mid-batch crash: tests call the admitter directly, fake partial
    failures (e.g. remove the marker), and re-invoke.
    """
    import hashlib
    import uuid

    import pyarrow as pa
    from pyspark.errors import AnalysisException

    from sql_autoloader_spark.functions.dedup import (
        _check_minhash_params,
        _minhash_front,
    )
    from sql_autoloader_spark.ops.dataframe_ops import local_frame

    _check_minhash_params(num_hashes, bands, shingle_words)

    def band_keys(docs: DataFrame) -> DataFrame:
        """(id, band, bucket) of each doc with at least one shingle;
        shorter docs get no keys and admit unconditionally (nothing to
        near-dup on)."""
        front = _minhash_front(
            docs, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_words=shingle_words,
        )  # fmt: skip
        bb = F.posexplode("bk").alias("band", "bucket")
        return front.select(F.col("doc").alias(id_col), bb)

    commits_path = f"{store_path}__commits"
    # stable id of this LOGICAL stream: batch ids are only meaningful
    # within one checkpoint, and several streams may share one store
    stream_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _read_commits(spark):  # noqa: ANN001, ANN202
        try:
            return spark.read.parquet(commits_path).collect()
        except AnalysisException:
            return []

    def admit_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        commits = _read_commits(spark)
        if any(
            r["stream_id"] == stream_id and r["batch_id"] == batch_id
            for r in commits
        ):
            # fully committed before the restart — at-least-once replay,
            # nothing to redo
            _log_admit("skip", batch_id)
            return
        committed_tokens = [r["token"] for r in commits]
        batch = batch.localCheckpoint(eager=True)
        keys = band_keys(batch).localCheckpoint(eager=True)
        try:
            store = spark.read.parquet(store_path)
            # only COMMITTED batches' keys decide admission: a crashed
            # attempt's partial store append must not change the replay's
            # decision.  (Legacy stores without the tag are all-committed
            # by construction — they predate the commit protocol.)
            if "__token" in store.columns:
                store = store.where(
                    F.col("__token").isin(committed_tokens)
                    | F.col("__token").isNull()
                )
            store = store.select("band", "bucket")
        except AnalysisException:
            store = None
        # ZERO-EXCHANGE probe: the store is the big side (grows with the
        # admitted corpus — ~bands rows/doc, TBs at 100 TB corpus) and
        # the batch keys are micro-batch-sized, so probe by scanning the
        # store against BROADCAST batch keys (inner join + distinct id
        # ≡ the semi-join's hit set).  Neither side shuffles: the old
        # keys-semi-store formulation exchanged BOTH sides on
        # (band, bucket) every batch.  The hint is SIZE-GATED by
        # :data:`PROBE_BROADCAST_MAX_KEYS`, evaluated once per batch: an
        # availableNow/backfill first batch can be the entire backlog,
        # and an unconditional broadcast hint bypasses every AQE size
        # check — above the gate, fall back to plain joins and let AQE
        # pick (keys is localCheckpointed, so the count is a cheap
        # cached-scan job, not a recompute).  The same gate covers the
        # dropped-id set below, which is at most one row per key.
        # Compaction (below) keeps the store scan itself cheap: few
        # sorted files, not one per batch.
        n_keys = keys.count()
        small = n_keys <= PROBE_BROADCAST_MAX_KEYS
        _log_admit("broadcast" if small else "shuffle", batch_id, n_keys)

        def bcast(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        if store is not None:
            hit_store = (
                store.join(bcast(keys), on=["band", "bucket"], how="inner")
                .select(id_col)
                .distinct()
            )
        else:
            hit_store = keys.limit(0).select(id_col)
        # within-batch keep-first: bucket shared with a lower id drops
        lower = keys.groupBy("band", "bucket").agg(
            F.min(F.col(id_col)).alias("__min_id")
        )
        hit_batch = (
            keys.join(lower, on=["band", "bucket"])
            .where(F.col(id_col) > F.col("__min_id"))
            .select(id_col)
        )
        # computed ONCE per batch: both sinks below anti-join this
        # checkpoint instead of each re-running the store scan, probe
        # join and within-batch group-by
        dropped = bcast(
            hit_store.select(id_col)
            .union(hit_batch)
            .distinct()
            .localCheckpoint(eager=True)
        )
        admitted = batch.join(dropped, on=id_col, how="left_anti")
        token = uuid.uuid4().hex
        # dynamic overwrite of THIS batch's partition only: a replayed
        # uncommitted batch replaces its own half-written output instead
        # of appending a duplicate of it.  The partition key is
        # (stream, batch) — stable across replays of one checkpoint,
        # disjoint across streams sharing the corpus.  Drop the
        # partition dir FIRST: dynamic overwrite touches only
        # partitions present in the new data, so a replay whose
        # recomputed admitted set is EMPTY would otherwise leave the
        # crashed attempt's half-written files in place forever.
        part_val = f"{stream_id}_{int(batch_id)}"
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(
            f"{out_path}/__batch={part_val}"
        )
        hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        ).delete(hpath, True)
        (
            admitted.withColumn("__batch", F.lit(part_val))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(out_path)
        )
        # store only ADMITTED docs' keys: the corpus state is what was
        # kept, so a future doc colliding only with dropped docs admits.
        # A crashed attempt may leave an orphan tagged append here —
        # harmless: its token never commits, so admission reads skip it.
        keys.join(dropped, on=id_col, how="left_anti").select(
            "band", "bucket", F.lit(token).alias("__token")
        ).write.mode("append").parquet(store_path)
        # THE commit point: both sinks are in place, one tiny append
        # flips the batch committed and its store keys visible
        # (a JVM LocalRelation: no Python worker runs to write one row)
        marker = pa.table(
            {"stream_id": [stream_id], "batch_id": [int(batch_id)], "token": [token]}
        )
        local_frame(
            spark, marker, "`stream_id` STRING, `batch_id` BIGINT, `token` STRING"
        ).write.mode("append").parquet(commits_path)

    return admit_batch


def compact_signature_store(
    spark: SparkSession,
    store_path: str,
    *,
    rows_per_file: int = 8_000_000,
) -> dict[str, int]:
    """Compact :func:`fuzzy_dedup_stream`'s parquet signature store.

    The admitter appends one small file set per micro-batch, so a
    long-lived stream accumulates thousands of tiny files and every
    probe pays the listing + open cost (SCALE.md's prescribed
    maintenance).  Compaction rewrites the store as FEW files, globally
    range-sorted by ``(band, bucket)`` (tight parquet min/max stats per
    row group), distinct-ed, and with uncommitted/orphaned tokens
    dropped.

    CRASH-SAFE and admitter-concurrent, via fold-then-delete at FILE
    granularity:

    1. read the commit table, then map every current store file to the
       tokens it contains (``_metadata.file_path``); only files whose
       tokens are ALL committed (or legacy/compacted ``NULL``) are
       *foldable* — an in-flight admitter append (token not committed
       YET) is left completely untouched, so a batch that commits
       after this read keeps its keys no matter how the race
       interleaves;
    2. append the foldable files' distinct key set as few sorted files
       (``__token = NULL`` — the admitter treats a null token as
       committed, so the new rows are immediately usable);
    3. delete exactly the foldable files.

    A crash anywhere leaves the store a superset of the committed keys
    — admission decisions are set-based, so duplicates change nothing
    — and a re-run converges.  A CRASHED admitter attempt's files
    (token never commits) are never folded and linger at one batch's
    worth of keys per crash — bounded noise, invisible to admission.
    Run ONE compaction at a time (like ``vacuum_commits``).

    Returns ``{"files_before", "files_after", "rows"}`` (counts over
    the foldable set).
    """
    from pyspark.errors import AnalysisException

    commits_path = f"{store_path}__commits"
    try:
        committed = {
            r["token"]
            for r in spark.read.parquet(commits_path).collect()
        }
    except AnalysisException:
        committed = set()

    jvm = spark.sparkContext._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    root = path_cls(store_path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {"files_before": 0, "files_after": 0, "rows": 0}
    # snapshot the directory BEFORE the row scan: the dead-file sweep
    # below may only consider files that existed at snapshot time — a
    # concurrent admitter append landing later must never be touched,
    # however the race interleaves
    snapshot_names = {
        s.getPath().getName()
        for s in fs.listStatus(root)
        if not s.getPath().getName().startswith(("_", "."))
    }

    store = spark.read.parquet(store_path)
    token_col = (
        F.col("__token")
        if "__token" in store.columns
        else F.lit(None).cast("string")
    )
    per_file = (
        store.select(
            F.col("_metadata.file_path").alias("__f"),
            token_col.alias("__t"),
        )
        .distinct()
        .collect()
    )
    by_file: dict[str, set] = {}
    for r in per_file:
        by_file.setdefault(r["__f"], set()).add(r["__t"])
    foldable = sorted(
        f
        for f, tokens in by_file.items()
        if all(t is None or t in committed for t in tokens)
    )
    # ZERO-ROW part files (a batch whose every document was dropped
    # still appends its empty write) never appear in the row scan —
    # they are permanently dead; delete them by name.  ONLY names from
    # the pre-scan snapshot qualify: the row scan's file index was
    # built after the snapshot, so every snapshot file either yielded
    # rows (in by_file) or is empty — while files that landed after
    # the snapshot are a concurrent admitter's and are left alone.
    # (URI forms differ between the scan and listStatus — match
    # basenames, unique within the flat dir.)
    seen_names = {f.rsplit("/", 1)[-1] for f in by_file}
    for name in snapshot_names - seen_names:
        fs.delete(path_cls(f"{store_path}/{name}"), False)
    if not foldable:
        return {"files_before": 0, "files_after": 0, "rows": 0}

    keys = (
        spark.read.parquet(*foldable)
        .select("band", "bucket")
        .distinct()
    )
    n_rows = keys.count()
    n_files = max(1, -(-n_rows // rows_per_file))
    (
        keys.repartitionByRange(n_files, "band", "bucket")
        .sortWithinPartitions("band", "bucket")
        .withColumn("__token", F.lit(None).cast("string"))
        .write.mode("append")
        .parquet(store_path)
    )
    for f in foldable:
        fs.delete(path_cls(f), False)
    files_after = sum(
        1
        for s in fs.listStatus(root)
        if not s.getPath().getName().startswith(("_", "."))
    )
    return {
        "files_before": len(foldable),
        "files_after": files_after,
        "rows": n_rows,
    }
