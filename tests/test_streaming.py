"""Streaming-module tests: file-source micro-batch streams with
``availableNow`` triggers, checked against their batch equivalents.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.streaming import (
    autoload_stream,
    dedup_stream,
    sessionized_counts,
    windowed_event_counts,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)

ROWS = [
    (1, "2024-01-01 10:00:00", 1, "click", 1.0),
    (2, "2024-01-01 10:05:00", 1, "click", 2.0),
    (3, "2024-01-01 10:20:00", 2, "view", 3.0),
    (4, "2024-01-01 11:10:00", 1, "click", 4.0),
    (2, "2024-01-01 10:05:00", 1, "click", 2.0),  # exact duplicate of event 2
    (5, "2024-01-01 12:00:00", 2, "view", 5.0),
]


@pytest.fixture
def events_dir(spark: SparkSession, tmp_path: Path) -> str:
    df = spark.createDataFrame(
        [(e, ts, u, t, v) for e, ts, u, t, v in ROWS],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = str(tmp_path / "events")
    df.coalesce(1).write.parquet(out)
    return out


def _read_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def _run_to_memory(df: DataFrame, name: str, tmp_path: Path):
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    return query


def test_windowed_event_counts(
    spark: SparkSession, events_dir: str, tmp_path: Path
) -> None:
    stream = _read_stream(spark, events_dir)
    agg = windowed_event_counts(stream, window_duration="1 hour")
    _run_to_memory(agg, "win_counts", tmp_path)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.table("win_counts").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == 3  # incl. duplicate row
    assert got[("2024-01-01 10:00:00", "view")] == 1
    assert got[("2024-01-01 11:00:00", "click")] == 1
    assert got[("2024-01-01 12:00:00", "view")] == 1


def test_sessionized_counts(
    spark: SparkSession, events_dir: str, tmp_path: Path
) -> None:
    stream = _read_stream(spark, events_dir)
    agg = sessionized_counts(stream, gap="30 minutes")
    _run_to_memory(agg, "sessions", tmp_path)
    rows = spark.table("sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    # user 1: events at 10:00/10:05 (+dup) in one session, 11:10 in another
    assert sorted(by_user[1]) == [1, 3]
    # user 2: 10:20 and 12:00 are separate sessions
    assert sorted(by_user[2]) == [1, 1]


def test_dedup_stream(
    spark: SparkSession, events_dir: str, tmp_path: Path
) -> None:
    stream = _read_stream(spark, events_dir)
    deduped = dedup_stream(stream, keys=["event_id"], watermark="1 day")
    query = (
        deduped.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.table("deduped").collect())
    assert ids == [1, 2, 3, 4, 5]


def test_user_activity_state(
    spark: SparkSession, tmp_path: Path
) -> None:
    """applyInPandasWithState: per-user totals emit when the user goes
    quiet (processing-time timeout fires on a later micro-batch)."""
    import time

    from sql_autoloader_spark.streaming import user_activity_state

    src = str(tmp_path / "state_events")
    first = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "click", 2.0),
         (2, "2024-01-01 10:01:00", 7, "click", 3.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    first.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    agg = user_activity_state(stream, timeout_ms=10)
    query = (
        agg.writeStream.format("memory")
        .queryName("user_state")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # let batch 1 set state, then push a later batch so the
        # (already-expired) timeout for user 7 fires
        time.sleep(4)
        spark.createDataFrame(
            [(3, "2024-01-01 11:00:00", 8, "view", 1.0)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(src)

        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.table("user_state").collect()
            if rows:
                break
            time.sleep(1)
    finally:
        query.stop()

    assert rows, "timeout emission never arrived"
    row = {r["user_id"]: r for r in rows}[7]
    assert row["n_events"] == 2
    assert row["sum_value"] == 5.0


def test_autoload_stream(
    spark: SparkSession, tmp_path: Path
) -> None:
    """Streaming auto-load: micro-batches land in the relational schema
    idempotently; content equals the batch-load result."""
    flat = spark.createDataFrame(
        [("Toyota", "Corolla"), ("Ford", "Focus"), ("Toyota", "Yaris")],
        "brand string, model string",
    )
    src = str(tmp_path / "flat")
    flat.write.parquet(src)

    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE s_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE s_car (
            id INTEGER PRIMARY KEY,
            model TEXT UNIQUE,
            brand_id INTEGER REFERENCES s_brand (id)
        );
        """
    )
    stream = spark.readStream.schema("brand string, model string").parquet(src)
    query = autoload_stream(
        db, stream, checkpoint_dir=str(tmp_path / "ckpt_load")
    )
    assert query.awaitTermination(120)

    assert db._read_table("s_brand").count() == 2
    assert db._read_table("s_car").count() == 3
    joined = spark.sql(
        "SELECT s_brand.brand AS brand, s_car.model AS model "
        "FROM s_car LEFT JOIN s_brand ON s_car.brand_id = s_brand.id"
    )
    assert {tuple(r) for r in joined.collect()} == {
        tuple(r) for r in flat.collect()
    }


def test_interval_join_streams_matches_batch_join(spark) -> None:
    """The watermarked stream-stream interval join (replayed with an
    eviction-free watermark) must equal the batch time-bounded join."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from sql_autoloader_spark.streaming import pipeline as streaming

    sf_dir = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = batch.schema

    def side(kind: str, ts_name: str, id_name: str, stream: bool):
        src = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            if stream
            else batch
        )
        return src.where(F.col("event_type") == kind).select(
            "user_id",
            F.col("event_id").alias(id_name),
            F.col("ts").cast("timestamp").alias(ts_name),
        )

    joined = streaming.interval_join_streams(
        side("click", "click_ts", "click_id", stream=True),
        side("purchase", "purchase_ts", "purchase_id", stream=True),
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_delay="2 hours",
        watermark="3650 days",
    )
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.table(name).collect()
    }

    c = side("click", "click_ts", "click_id", stream=False)
    p = side("purchase", "purchase_ts", "purchase_id", stream=False)
    want = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in c.join(
            p.withColumnRenamed("user_id", "u2"),
            (F.col("user_id") == F.col("u2"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 2 hours")
            ),
        ).collect()
    }
    assert got == want
    assert got  # non-degenerate: the fixture produces pairs


def test_fuzzy_dedup_stream_admission_and_idempotence(
    spark: SparkSession, tmp_path: Path
) -> None:
    """Near-dup admission: the admitted set must (a) drop band-bucket
    collisions (near-identical docs collapse to the lowest id), (b) keep
    genuinely distinct docs, (c) admit too-short docs unconditionally,
    and (d) admit NOTHING on a replay of the same shard (the signature
    store is the persistent corpus state)."""
    from sql_autoloader_spark.streaming import fuzzy_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base + " tiny tail"),          # near-dup of 1 -> dropped
        (3, "completely different words about spark and shuffles " * 4),
        (4, "hi"),                          # too short for a shingle
    ]
    src = tmp_path / "src"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    def run(tag: str) -> dict[int, int]:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = fuzzy_dedup_stream(
            stream,
            id_col="doc_id",
            text_col="text",
            store_path=str(tmp_path / "store"),
            out_path=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination()
        out: dict[int, int] = {}
        for r in spark.read.parquet(str(tmp_path / "out")).collect():
            out[r["doc_id"]] = out.get(r["doc_id"], 0) + 1
        return out

    first = run("a")
    assert first == {1: 1, 3: 1, 4: 1}
    # replay with a FRESH checkpoint (same store): every shingled doc
    # collides with its own stored band keys; only the too-short doc
    # (which bypasses near-dup state by design — pair with exact
    # dedup_stream for those) is admitted again
    second = run("b")
    assert second == {1: 1, 3: 1, 4: 2}


def test_fuzzy_dedup_crash_replay_is_idempotent(
    spark: SparkSession, tmp_path: Path, monkeypatch
) -> None:
    """Commit protocol: a batch whose outputs landed but whose marker
    did NOT (crash between the sink appends and the commit point) must
    re-run on replay WITHOUT duplicating corpus rows — the replayed
    attempt overwrites its own ``__batch`` partition and ignores the
    crashed attempt's uncommitted store keys when deciding admission.
    The same admissions re-run with the broadcast gate at 0 (the plain
    joins a backlog batch above the gate takes) admit the same ids."""
    import shutil

    from sql_autoloader_spark.streaming import pipeline

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    batch0 = spark.createDataFrame(
        [(1, base), (2, base + " tiny tail"), (3, "totally different words about spark " * 4)],
        "doc_id long, text string",
    )
    # a near-dup of doc 1, and novel content
    batch1 = spark.createDataFrame(
        [(10, base + " another tail"), (11, "fresh unrelated content entirely " * 4)],
        "doc_id long, text string",
    )

    def corpus(root: Path) -> dict[int, int]:
        counts: dict[int, int] = {}
        for r in spark.read.parquet(str(root / "out")).collect():
            counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
        return counts

    def run(root: Path) -> None:
        admit = pipeline._fuzzy_admitter(
            id_col="doc_id",
            text_col="text",
            store_path=str(root / "store"),
            out_path=str(root / "out"),
            checkpoint_dir=str(root / "ckpt"),
        )
        admit(batch0, 0)
        # simulate the crash: outputs are in place, the marker never landed
        shutil.rmtree(str(root / "store__commits"))
        # at-least-once replay of the same batch
        admit(batch0, 0)
        counts = corpus(root)
        assert counts == {1: 1, 3: 1}, counts  # no duplicates, near-dup 2 dropped

        # the store still works for a later batch: a near-dup of doc 1
        # drops, and an already-committed batch id is skipped outright
        admit(batch1, 1)
        admit(batch1, 1)  # committed -> no-op
        counts = corpus(root)
        assert counts == {1: 1, 3: 1, 11: 1}, counts

    run(tmp_path / "broadcast")
    monkeypatch.setattr(pipeline, "PROBE_BROADCAST_MAX_KEYS", 0)
    run(tmp_path / "plain")


@pytest.mark.parametrize("entry", ["batch", "stream"])
@pytest.mark.parametrize(
    "params",
    [
        {"bands": 0},
        {"bands": -8},
        {"num_hashes": 0, "bands": 1},
        {"shingle_words": 0},
        {"num_hashes": 32, "bands": 5},
    ],
)
def test_minhash_params_rejected_by_batch_and_stream(
    spark: SparkSession, tmp_path: Path, entry: str, params: dict
) -> None:
    """Batch MinHash and the stream admitter reject the same bad
    parameters with ValueError, before any Spark job or stream runs."""
    from sql_autoloader_spark.functions import dedup
    from sql_autoloader_spark.streaming import fuzzy_dedup_stream

    schema = "doc_id long, text string"
    with pytest.raises(ValueError, match="num_hashes"):
        if entry == "batch":
            docs = spark.createDataFrame([(0, "a b c d")], schema)
            dedup.minhash_lsh_pairs(
                docs, id_col="doc_id", text_col="text", **params
            )
        else:
            (tmp_path / "src").mkdir()
            fuzzy_dedup_stream(
                spark.readStream.schema(schema).parquet(str(tmp_path / "src")),
                id_col="doc_id",
                text_col="text",
                store_path=str(tmp_path / "store"),
                out_path=str(tmp_path / "out"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                **params,
            )


def test_stream_band_keys_match_batch_minhash(
    spark: SparkSession, tmp_path: Path
) -> None:
    """The band keys the stream admitter stores and batch
    minhash_lsh_pairs's banded keys are the same ``(id, band, bucket)``
    set, too-short docs keyed by neither.  The signature store keeps
    these buckets forever: a drift between the two sides would silently
    admit near-duplicates of the batch corpus.  Each doc is admitted
    by its own admitter into its own store, so every stored key belongs
    to that store's one admitted id."""
    from sql_autoloader_spark.functions import dedup
    from sql_autoloader_spark.streaming import pipeline

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tiny tail"),
            (3, "  Completely DIFFERENT   words about spark shuffles " * 4),
            (4, "hi"),  # below shingle_words
            (5, "two words"),  # below shingle_words
            (6, ""),  # below shingle_words
            (7, "exactly three words"),
        ],
        "doc_id long, text string",
    )
    dedup.minhash_lsh_pairs(docs, id_col="doc_id", text_col="text")
    (banded,) = (
        f
        for f in dedup._PIN_REGISTRY["minhash_lsh_pairs"]
        if f.columns == ["doc", "band", "bucket"]
    )
    batch_keys = {tuple(r) for r in banded.collect()}

    stream_keys = set()
    for (doc_id,) in docs.select("doc_id").collect():
        root = tmp_path / str(doc_id)
        pipeline._fuzzy_admitter(
            id_col="doc_id",
            text_col="text",
            store_path=str(root / "store"),
            out_path=str(root / "out"),
            checkpoint_dir=str(root / "ckpt"),
        )(docs.where(F.col("doc_id") == doc_id), 0)
        admitted = spark.read.parquet(str(root / "out")).select("doc_id")
        stream_keys |= {
            tuple(r)
            for r in admitted.crossJoin(
                spark.read.parquet(str(root / "store")).select("band", "bucket")
            ).collect()
        }
    assert batch_keys == stream_keys
    assert {i for i, _, _ in batch_keys} == {1, 2, 3, 7}
    assert len(batch_keys) == 4 * 8  # 8 bands per keyed doc


@pytest.mark.parametrize("gate", [None, 0], ids=["default_gate", "gate_0"])
def test_fuzzy_admitter_logs_one_decision_record(
    spark: SparkSession, tmp_path: Path, monkeypatch, caplog, gate
) -> None:
    """Each admitter call emits one ``fuzzy_admit`` INFO record naming
    the broadcast gate's decision with the key count it already took,
    or ``skip`` (no count) for an already-committed batch."""
    import logging

    from sql_autoloader_spark.streaming import pipeline

    if gate is not None:
        monkeypatch.setattr(pipeline, "PROBE_BROADCAST_MAX_KEYS", gate)
    admit = pipeline._fuzzy_admitter(
        id_col="doc_id",
        text_col="text",
        store_path=str(tmp_path / "store"),
        out_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = spark.createDataFrame(
        [(1, "one two three four"), (2, "hi")], "doc_id long, text string"
    )
    with caplog.at_level(logging.INFO, logger="sql_autoloader_spark"):
        admit(batch, 5)
        admit(batch, 5)  # committed -> skip
    records = [
        (r.op, r.decision, r.batch_id, r.n_keys)
        for r in caplog.records
        if getattr(r, "op", None) == "fuzzy_admit"
    ]
    decision = "broadcast" if gate is None else "shuffle"
    assert records == [
        ("fuzzy_admit", decision, 5, 8),
        ("fuzzy_admit", "skip", 5, None),
    ]


def test_signature_store_compaction_preserves_admissions(
    spark: SparkSession, tmp_path: Path
) -> None:
    """compact_signature_store: many one-file-per-batch appends collapse
    to few sorted files, admission decisions are IDENTICAL before and
    after, re-compaction is idempotent, and the per-batch probe join
    runs with no store-side shuffle exchange (broadcast batch keys)."""
    from sql_autoloader_spark.streaming.pipeline import (
        _fuzzy_admitter,
        compact_signature_store,
    )

    store = tmp_path / "store"
    out = tmp_path / "out"
    admit = _fuzzy_admitter(
        id_col="doc_id",
        text_col="text",
        store_path=str(store),
        out_path=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    texts = [
        f"distinctive prose about subject {i} with many carefully "
        f"repeated signature words for minhash stability topic {i} " * 3
        for i in range(8)
    ]
    for b in range(4):
        admit(
            spark.createDataFrame(
                [(b * 2, texts[b * 2]), (b * 2 + 1, texts[b * 2 + 1])],
                "doc_id long, text string",
            ),
            b,
        )

    stats = compact_signature_store(spark, str(store))
    # one file set per batch with rows (a fully-dropped batch appends
    # only empty part files, which the fold deletes by name)
    assert stats["files_before"] >= 3
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny store -> one sorted file
    assert stats["rows"] > 0

    # identical admissions after compaction: near-dups of docs admitted
    # BEFORE the compaction still drop, novel content still admits
    probe = spark.createDataFrame(
        [
            (100, texts[0] + " trailing tweak"),
            (101, texts[5] + " other tweak"),
            (102, "entirely novel writing about walled gardens " * 4),
        ],
        "doc_id long, text string",
    )
    admit(probe, 10)
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert 100 not in admitted and 101 not in admitted
    assert 102 in admitted

    # an IN-FLIGHT admitter append (token not yet committed) must ride
    # through compaction completely untouched: its file is not folded,
    # not deleted, and once its commit marker lands its keys decide
    # admission exactly as if no compaction had happened
    spark.createDataFrame(
        [(7, 777777, "inflight-tok")],
        "band int, bucket bigint, __token string",
    ).write.mode("append").parquet(str(store))
    mid = compact_signature_store(spark, str(store))
    inflight = spark.read.parquet(str(store)).where(
        F.col("__token") == "inflight-tok"
    )
    assert inflight.count() == 1  # survived, still tagged
    assert mid["rows"] > 0

    # idempotent: a second compaction keeps the same distinct key set
    stats2 = compact_signature_store(spark, str(store))
    assert stats2["rows"] >= stats["rows"]  # + the probe batch's keys
    keyset = {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(str(store)).collect()
    }
    stats3 = compact_signature_store(spark, str(store))
    assert stats3["rows"] == stats2["rows"]
    assert {
        (r["band"], r["bucket"])
        for r in spark.read.parquet(str(store)).collect()
    } == keyset

    # plan shape of the probe: store side scans straight into a
    # BroadcastHashJoin — no shuffle exchange anywhere in the join
    store_df = spark.read.parquet(str(store)).select("band", "bucket")
    keys_df = spark.createDataFrame(
        [(1, 0, 123)], "doc_id long, band int, bucket bigint"
    )
    join = store_df.join(
        F.broadcast(keys_df), on=["band", "bucket"], how="inner"
    ).select("doc_id")
    plan = join._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


# --- watermark-boundary semantics across restarts ---------------------------
#
# The availableNow replays above verify END state; these two-phase tests
# verify the watermark BOUNDARY itself: phase 1 advances the watermark
# far past the early windows/keys (finalizing windows, evicting dedup
# state), then phase 2 restarts from the same checkpoint with a file
# containing a LATE row (behind the restored watermark) and an on-time
# re-send of an evicted key.  Late row -> dropped; evicted key ->
# re-admitted (the documented within-watermark dedup horizon).  The sink
# is a parquet file sink - the memory sink cannot recover a checkpoint.


def _write_events(spark: SparkSession, path, rows) -> None:
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(str(path))


def _run_to_parquet(df: DataFrame, out: str, ckpt: str) -> None:
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_windowed_counts_drop_late_rows_across_restart(
    spark: SparkSession, tmp_path: Path
) -> None:
    src = tmp_path / "wm_src"
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")

    def run():
        agg = windowed_event_counts(
            _read_stream(spark, str(src)),
            window_duration="1 hour",
            watermark="10 minutes",
        )
        _run_to_parquet(agg, out, ckpt)
        rows = spark.read.parquet(out).collect()
        got: dict[tuple[str, str], list[int]] = {}
        for r in rows:
            got.setdefault(
                (str(r["window_start"]), r["event_type"]), []
            ).append(r["n_events"])
        return got

    # phase 1: two clicks in the 10:00 window, then a row at 23:00 that
    # advances the watermark to 22:50 - window 10:00 finalizes and emits
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:05:00", 1, "click", 2.0),
            (3, "2024-01-01 23:00:00", 2, "view", 3.0),
        ],
    )
    got1 = run()
    assert got1[("2024-01-01 10:00:00", "click")] == [2]

    # phase 2 (same checkpoint): a LATE click at 10:30 (behind the
    # restored 22:50 watermark) plus on-time rows, the last of which
    # pushes the watermark past everything so every live window emits
    _write_events(
        spark,
        src,
        [
            (4, "2024-01-01 10:30:00", 1, "click", 4.0),  # LATE -> dropped
            (5, "2024-01-01 23:05:00", 2, "view", 5.0),
            (6, "2024-01-02 12:00:00", 2, "view", 6.0),
        ],
    )
    got2 = run()
    # the late row must NOT resurrect the finalized 10:00 window: its
    # count stays [2] - neither updated nor emitted a second time
    assert got2[("2024-01-01 10:00:00", "click")] == [2]
    # the on-time 23:05 row joined event 3 in the finalized 23:00 window
    assert got2[("2024-01-01 23:00:00", "view")] == [2]


def test_dedup_stream_evicts_and_readmits_across_restart(
    spark: SparkSession, tmp_path: Path
) -> None:
    src = tmp_path / "dd_src"
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")

    def run():
        deduped = dedup_stream(
            _read_stream(spark, str(src)),
            keys=["event_id"],
            watermark="10 minutes",
        )
        _run_to_parquet(deduped, out, ckpt)
        return sorted(r["event_id"] for r in spark.read.parquet(out).collect())

    # phase 1: key 2 seen (with an in-batch duplicate), then a 23:00 row
    # advances the watermark to 22:50 and key 2's state is evicted
    _write_events(
        spark,
        src,
        [
            (2, "2024-01-01 10:05:00", 1, "click", 2.0),
            (2, "2024-01-01 10:05:00", 1, "click", 2.0),
            (7, "2024-01-01 23:00:00", 2, "view", 3.0),
        ],
    )
    assert run() == [2, 7]

    # phase 2 (same checkpoint): key 2 re-sent ON TIME after eviction ->
    # re-admitted (the within-watermark horizon); key 9 arrives LATE
    # (behind the restored watermark) -> dropped outright
    _write_events(
        spark,
        src,
        [
            (2, "2024-01-01 23:05:00", 1, "click", 9.0),  # evicted -> readmit
            (9, "2024-01-01 10:06:00", 1, "click", 1.0),  # LATE -> dropped
        ],
    )
    assert run() == [2, 2, 7]


def test_autoload_stream_into_managed_catalog(
    spark: SparkSession, tmp_path: Path
) -> None:
    """Streaming auto-load composed with the MANAGED catalog sink: each
    micro-batch is one optimistic manifest commit, the commit history
    records per-batch durable snapshots, and a checkpoint RESTART over
    the same data re-loads idempotently (anti-join no-ops) without
    corrupting history or content."""
    flat = spark.createDataFrame(
        [("Toyota", "Corolla"), ("Ford", "Focus"), ("Toyota", "Yaris")],
        "brand string, model string",
    )
    src = tmp_path / "flat_m"
    src.mkdir()
    # two files → availableNow with maxFilesPerTrigger=1 gives 2 batches
    flat.where(F.col("model") != "Yaris").coalesce(1).write.parquet(
        str(src / "f1")
    )
    flat.where(F.col("model") == "Yaris").coalesce(1).write.parquet(
        str(src / "f2")
    )

    db = SparkConnector(spark, database="streamcat")
    db.execute_ddl(
        """
        CREATE TABLE sm_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE sm_car (
            id INTEGER PRIMARY KEY,
            model TEXT UNIQUE,
            brand_id INTEGER REFERENCES sm_brand (id)
        );
        """
    )

    def run() -> None:
        stream = (
            spark.readStream.schema("brand string, model string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        q = autoload_stream(
            db, stream, checkpoint_dir=str(tmp_path / "ckpt_cat")
        )
        assert q.awaitTermination(120)

    run()
    assert db._read_table("sm_brand").count() == 2
    assert db._read_table("sm_car").count() == 3
    history = db.commit_history()
    assert len(history) == len(set(history)) >= 2  # one commit per batch

    # per-batch durable snapshots via the journal
    assert db.read_table_as_of("sm_car", history[0]).count() < 3
    assert db.read_table_as_of("sm_car", history[-1]).count() == 3

    # restart with a FRESH checkpoint = full replay: idempotent
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt_cat"))
    run()
    assert db._read_table("sm_brand").count() == 2
    assert db._read_table("sm_car").count() == 3


def test_autoload_stream_into_postgres(
    spark: SparkSession, tmp_path: Path
) -> None:
    """Streaming auto-load into a LIVE PostgreSQL warehouse: micro-
    batches run the full lifecycle through the wire-native sink, and a
    fresh-checkpoint replay of the same source is a no-op (idempotent
    content across stream restarts)."""
    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector

    if not EmbeddedPostgres.available():
        pytest.skip("PostgreSQL server binaries not available")

    flat = spark.createDataFrame(
        [("Toyota", "Corolla"), ("Ford", "Focus"), ("Toyota", "Yaris")],
        "brand string, model string",
    )
    src = str(tmp_path / "flat_pg")
    flat.write.parquet(src)

    # default mkdtemp base: pytest tmp dirs are 0700 under root-owned
    # parents the postgres run-as user cannot traverse
    with EmbeddedPostgres() as server:
        db = PostgresConnector(
            spark, sock_dir=server.sock_dir, port=server.port
        )
        try:
            _run_pg_autoload(spark, db, src, tmp_path)
        finally:
            db.close()


def _run_pg_autoload(spark, db, src, tmp_path):  # noqa: ANN001, ANN202
        db.execute_ddl(
            """
            CREATE TABLE sp_brand (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                brand text UNIQUE);
            CREATE TABLE sp_car (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                model text UNIQUE,
                brand_id bigint REFERENCES sp_brand (id));
            """
        )
        stream = spark.readStream.schema(
            "brand string, model string"
        ).parquet(src)
        assert autoload_stream(
            db, stream, checkpoint_dir=str(tmp_path / "pg_ckpt1")
        ).awaitTermination(120)
        counts = lambda: (  # noqa: E731
            db.client.query("SELECT count(*) FROM sp_brand").rows[0][0],
            db.client.query("SELECT count(*) FROM sp_car").rows[0][0],
        )
        assert counts() == (2, 3)
        # fresh checkpoint = full replay; idempotency must no-op it
        stream2 = spark.readStream.schema(
            "brand string, model string"
        ).parquet(src)
        assert autoload_stream(
            db, stream2, checkpoint_dir=str(tmp_path / "pg_ckpt2")
        ).awaitTermination(120)
        assert counts() == (2, 3)
        got = {
            tuple(r)
            for r in db.client.query(
                "SELECT b.brand, c.model FROM sp_car c"
                " JOIN sp_brand b ON c.brand_id = b.id"
            ).rows
        }
        flat_again = spark.read.parquet(src)
        assert got == {tuple(r) for r in flat_again.collect()}


def test_rocksdb_state_store_matches_batch_oracle(
    spark: SparkSession, events_dir: str, tmp_path: Path
) -> None:
    """The stateful queries run on the RocksDB provider (round 11:
    the default HDFS-backed store keeps one heap object per live key —
    the ×30 probe measured it at 5.9× wall; a 100 TB/day dedup horizon
    would grow the executor heap without bound).  Provider choice must
    never change semantics: the RocksDB-backed dedup must equal the
    batch distinct, and the progress metrics must prove RocksDB — not
    the default map — actually held the state."""
    from sql_autoloader_spark.streaming.pipeline import ROCKSDB_PROVIDER

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    # the provider is a session setting: this query's own session names
    # RocksDB, the caller's session stays as it was
    rocks = spark.newSession()
    rocks.conf.set(provider_key, ROCKSDB_PROVIDER)
    stream = _read_stream(rocks, events_dir)
    deduped = dedup_stream(stream, keys=["event_id"], watermark="1 day")
    query = (
        deduped.writeStream.format("memory")
        .queryName("deduped_rocks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    progresses = [p for p in query.recentProgress if p]
    # the caller's session conf is untouched
    assert spark.conf.get(provider_key, None) != ROCKSDB_PROVIDER
    ids = sorted(
        r["event_id"] for r in rocks.table("deduped_rocks").collect()
    )
    batch = sorted(
        r["event_id"]
        for r in spark.read.schema(EVENTS_SCHEMA)
        .parquet(events_dir)
        .select("event_id")
        .distinct()
        .collect()
    )
    assert ids == batch
    # the state operator reports RocksDB custom metrics only when the
    # RocksDB provider actually backed it
    metrics = [
        key
        for p in progresses
        for op in p.get("stateOperators", [])
        for key in (op.get("customMetrics") or {})
    ]
    assert any("rocksdb" in k.lower() for k in metrics), metrics


def test_streaming_commits_feed_cdc_consumers(
    spark: SparkSession, tmp_path: Path
) -> None:
    """Composition of the two ingest planes: every micro-batch commit
    of a streaming autoload is consumable through the CDC surface —
    table_changes reports one insert group per batch commit, and a
    RollupConsumer folded from the feed equals the direct aggregate of
    the warehouse table."""
    from sql_autoloader_spark.connectors.consumer import RollupConsumer

    flat = spark.createDataFrame(
        [("Toyota", "Corolla"), ("Ford", "Focus"), ("Toyota", "Yaris")],
        "brand string, model string",
    )
    src = tmp_path / "flat_cdc"
    src.mkdir()
    flat.where(F.col("model") != "Yaris").coalesce(1).write.parquet(
        str(src / "f1")
    )
    flat.where(F.col("model") == "Yaris").coalesce(1).write.parquet(
        str(src / "f2")
    )
    db = SparkConnector(spark, database="streamcdc")
    db.execute_ddl(
        """
        CREATE TABLE sc_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE sc_car (
            id INTEGER PRIMARY KEY,
            model TEXT UNIQUE,
            brand_id INTEGER REFERENCES sc_brand (id)
        );
        """
    )
    stream = (
        spark.readStream.schema("brand string, model string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = autoload_stream(db, stream, checkpoint_dir=str(tmp_path / "ckpt_cdc"))
    assert q.awaitTermination(120)

    history = db.commit_history()
    feed = db.table_changes("sc_car", 0)
    per_commit = {
        r["_commit_id"]: r["n"]
        for r in feed.groupBy("_commit_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert set(per_commit) == set(history)
    assert sum(per_commit.values()) == 3

    def agg(f: DataFrame) -> DataFrame:
        return f.groupBy("brand_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    rc = RollupConsumer(spark, str(tmp_path / "roll_cdc"), keys=["brand_id"])
    state = rc.refresh(db, "sc_car", agg)
    assert state["bookmark"] == history[-1]
    got = {r["brand_id"]: r["n"] for r in rc.summary().collect()}
    want = {
        r["brand_id"]: r["n"]
        for r in agg(db._read_table("sc_car")).collect()
    }
    assert got == want and sum(got.values()) == 3


def test_streaming_cdc_feed_serves_exactly_the_batch_feed(
    spark: SparkSession, tmp_path
) -> None:
    """The r14 streaming CDC source end-to-end: (1) an availableNow
    drain serves exactly ``table_changes(t, 0, head]``; (2) a restart
    from the SAME checkpoint after a new commit serves ONLY the new
    commit (offsets are commit ids, resumed from the checkpoint); (3)
    an empty-for-this-table commit advances offsets without rows."""
    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="cdcstream1")
    db.execute_ddl(
        "CREATE TABLE cs_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
        "CREATE TABLE cs_other (id INTEGER PRIMARY KEY, word TEXT UNIQUE);"
    )

    def add(names, table="cs_t"):  # noqa: ANN001, ANN202
        col = "name" if table == "cs_t" else "word"
        with db:
            db.insert(
                spark.createDataFrame([(n,) for n in names], [col]),
                table=table,
            )

    add(["a", "b"])
    add(["c"])
    head = db.commit_history()[-1]

    got: list = []
    ckpt = str(tmp_path / "ckpt")

    def drain() -> None:
        got.clear()
        q = (
            read_changes_stream(db, "cs_t")
            .writeStream.foreachBatch(
                lambda df, _bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    want = {
        (r["name"], r["_commit_id"])
        for r in db.table_changes("cs_t", 0, head).collect()
    }
    assert {(r["name"], r["_commit_id"]) for r in got} == want
    assert len(got) == 3 and all(r["_change_type"] == "insert" for r in got)

    # a commit touching ONLY the other table: offsets advance, no rows
    add(["x"], table="cs_other")
    drain()
    assert got == []

    # a real new commit: ONLY its rows arrive on the same checkpoint
    add(["d", "e"])
    new_head = db.commit_history()[-1]
    drain()
    assert {(r["name"], r["_commit_id"]) for r in got} == {
        ("d", new_head),
        ("e", new_head),
    }


def test_streaming_cdc_feed_crash_replay_is_exactly_once(
    spark: SparkSession, tmp_path
) -> None:
    """Crash replay through the RollupConsumer bookmark protocol: the
    sink records (batch_id, rows) and CRASHES after its side effects
    on the first attempt of batch 0 — the restart re-serves the SAME
    commit range (commit files are immutable), and the batch-id
    bookmark (skip if batch_id <= last committed, the
    connectors/consumer.py HEAD discipline) turns the at-least-once
    replay into exactly-once content."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="cdcstream2")
    db.execute_ddl(
        "CREATE TABLE cr_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    with db:
        db.insert(
            spark.createDataFrame([("a",), ("b",)], ["name"]), table="cr_t"
        )
    head = db.commit_history()[-1]

    attempts: list = []  # every delivery, crashed or not
    committed: dict = {"bookmark": -1, "rows": []}
    crash_once = {"armed": True}

    def sink(df, batch_id) -> None:  # noqa: ANN001
        rows = sorted((r["name"], r["_commit_id"]) for r in df.collect())
        attempts.append((batch_id, rows))
        if crash_once["armed"]:
            crash_once["armed"] = False
            msg = "simulated crash AFTER side effects, before bookmark"
            raise RuntimeError(msg)
        if batch_id <= committed["bookmark"]:
            return  # replayed batch already folded — the bookmark skip
        committed["rows"].extend(rows)
        committed["bookmark"] = batch_id

    def run() -> None:
        q = (
            read_changes_stream(db, "cr_t")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException, match="simulated crash"):
        run()
    run()  # restart: replays batch 0, then finishes

    # the replay re-served the IDENTICAL commit range
    assert len(attempts) >= 2
    assert attempts[0] == attempts[1]
    # exactly-once content despite the double delivery
    assert committed["rows"] == [("a", head), ("b", head)]


def test_streaming_cdc_feed_errors_below_vacuum_horizon(
    spark: SparkSession, tmp_path
) -> None:
    """A feed whose next offset fell below the vacuum horizon fails
    LOUDLY (the folded commits are gone from the journal — serving
    the range would silently under-report), the same contract as the
    batch ``table_changes``."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="cdcstream3")
    db.execute_ddl(
        "CREATE TABLE vh_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    for n in ("a", "b", "c"):
        with db:
            db.insert(spark.createDataFrame([(n,)], ["name"]), table="vh_t")
    db.vacuum_commits(retain_last=1)

    q = (
        read_changes_stream(db, "vh_t", from_commit=0)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(
        StreamingQueryException, match="vacuum horizon"
    ):
        q.awaitTermination()

    # an IN-FLIGHT vacuum (intent marker above the floor — a crashed
    # or concurrent fold) makes the range unreadable until it
    # completes, same as the batch feed's intent guard
    with db:
        db.insert(spark.createDataFrame([("d",)], ["name"]), table="vh_t")
    head = db.commit_history()[-1]
    intent = Path(db._journal._dir.removeprefix("file:")) / f"{head}.vacuuming"
    intent.touch()
    try:
        q2 = (
            read_changes_stream(db, "vh_t", from_commit=head - 1)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(
            StreamingQueryException, match="vacuum through commit"
        ):
            q2.awaitTermination()
    finally:
        intent.unlink()


def test_stream_rollup_push_based_ivm_exactly_once(
    spark: SparkSession, tmp_path
) -> None:
    """r14 push-based IVM: ``stream_rollup`` maintains a
    RollupConsumer from the streaming changes feed.  Pins: (1) two
    drains across three commits converge to the direct aggregate; (2)
    a crash AFTER the summary flip but BEFORE the stream checkpoint
    commits (simulated: the sink raises after folding) replays the
    batch, and the stream_batch guard in the SAME atomic HEAD flip
    skips the replay — no double counting; (3) the bookmark tracks
    the max folded commit id, so the polling ``refresh`` can take
    over from where the stream left off."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_autoloader_spark.connectors.consumer import RollupConsumer
    from sql_autoloader_spark.streaming import cdc_source, stream_rollup

    db = SparkConnector(spark, database="srollup")
    db.execute_ddl(
        "CREATE TABLE sr_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
        " name_len INTEGER);"
    )

    def add(names) -> None:  # noqa: ANN001
        with db:
            db.insert(
                spark.createDataFrame(
                    [(n, len(n)) for n in names], "name string, name_len int"
                ),
                table="sr_t",
            )

    def agg(frame):  # noqa: ANN001, ANN202
        return frame.groupBy("name_len").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    rc = RollupConsumer(spark, str(tmp_path / "state"), keys=["name_len"])
    ckpt = str(tmp_path / "ckpt")

    # drain 1: two commits
    add(["a", "bb"])
    add(["cc"])
    stream_rollup(db, "sr_t", rc, agg, checkpoint_dir=ckpt).awaitTermination()
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 2}
    assert rc.head()["bookmark"] == db.commit_history()[-1]

    # drain 2: only the new commit folds (offsets resumed)
    add(["ddd", "ee"])
    stream_rollup(db, "sr_t", rc, agg, checkpoint_dir=ckpt).awaitTermination()
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 3, 3: 1}
    head_after_two = rc.head()

    # crash AFTER the fold's HEAD flip, BEFORE the stream commits the
    # batch: the replay must be skipped by the stream_batch guard
    add(["ffff"])
    real_publish = RollupConsumer._publish
    armed = {"on": True}

    def publish_then_die(self, *args, **kw):  # noqa: ANN001, ANN202
        state = real_publish(self, *args, **kw)
        if armed["on"]:
            armed["on"] = False
            msg = "simulated crash after the flip"
            raise RuntimeError(msg)
        return state

    RollupConsumer._publish = publish_then_die
    try:
        with pytest.raises(StreamingQueryException, match="simulated crash"):
            stream_rollup(
                db, "sr_t", rc, agg, checkpoint_dir=ckpt
            ).awaitTermination()
        # the fold itself landed before the crash
        assert rc.head()["version"] == head_after_two["version"] + 1
        # restart: the stream replays the uncommitted batch; the guard
        # must skip it (already folded) — content stays exactly-once
        stream_rollup(
            db, "sr_t", rc, agg, checkpoint_dir=ckpt
        ).awaitTermination()
    finally:
        RollupConsumer._publish = real_publish
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 3, 3: 1, 4: 1}  # ffff counted ONCE

    # the polling refresh takes over seamlessly from the stream's
    # bookmark (commit ids are the shared currency)
    add(["ggggg"])
    rc.refresh(db, "sr_t", agg)
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 3, 3: 1, 4: 1, 5: 1}
    assert cdc_source is not None


def test_streaming_cdc_feed_rate_limit_bounds_batches(
    spark: SparkSession, tmp_path
) -> None:
    """``maxCommitsPerTrigger`` bounds each planned micro-batch to N
    commits, so a consumer returning from a long absence drains its
    backlog as many bounded batches (the Delta maxFilesPerTrigger
    analogue in commit units) instead of one giant replay batch."""
    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="cdcrate")
    db.execute_ddl(
        "CREATE TABLE rl_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    for i in range(5):
        with db:
            db.insert(
                spark.createDataFrame([(f"n{i}",)], ["name"]), table="rl_t"
            )

    batches: list[set] = []

    def sink(df, _bid) -> None:  # noqa: ANN001
        batches.append({r["_commit_id"] for r in df.collect()})

    ckpt = str(tmp_path / "ckpt")
    # drain until converged: each availableNow run snapshots a capped
    # head (the cap anchors on the checkpoint's true position — Spark
    # snapshots latestOffset before initialOffset, so the anchor must
    # come from the offsets log, not the reader's lifecycle), so the
    # 5-commit backlog takes several runs
    for _ in range(6):
        q = (
            read_changes_stream(
                db, "rl_t", max_commits_per_trigger=2, checkpoint_dir=ckpt
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if batches and set().union(*batches) == set(range(1, 6)):
            break

    non_empty = [b for b in batches if b]
    assert set().union(*non_empty) == set(range(1, 6))  # nothing lost
    assert all(len(b) <= 2 for b in non_empty), non_empty  # every batch bounded
    assert len(non_empty) >= 3  # the backlog really was split up


def test_streaming_cdc_feed_survives_compaction(
    spark: SparkSession, tmp_path
) -> None:
    """Compaction rewrites data files but PRESERVES per-row commit
    tokens, so a stream that already served commits (1, 2] must not
    re-serve them from the rewritten files: the next drain's token-set
    filter excludes old tokens wherever they now live.  Pins the
    feed/compaction interplay end to end (footer pruning re-prunes the
    NEW files' row groups)."""
    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="cdccompact")
    db.execute_ddl(
        "CREATE TABLE cp_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )

    def add(names) -> None:  # noqa: ANN001
        with db:
            db.insert(
                spark.createDataFrame([(n,) for n in names], ["name"]),
                table="cp_t",
            )

    got: list = []
    ckpt = str(tmp_path / "ckpt")

    def drain() -> None:
        got.clear()
        q = (
            read_changes_stream(db, "cp_t")
            .writeStream.foreachBatch(
                lambda df, _bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add(["a", "b"])
    add(["c"])
    drain()
    assert {r["name"] for r in got} == {"a", "b", "c"}

    db.compact_table("cp_t", target_partitions=1)
    add(["d"])
    drain()
    # ONLY the new commit arrives — nothing re-served from the
    # compacted rewrite of already-bookmarked commits
    assert [(r["name"], r["_commit_id"]) for r in got] == [
        ("d", db.commit_history()[-1])
    ]


def test_streaming_cdc_feed_partitioned_table_and_schema_evolution(
    spark: SparkSession, tmp_path
) -> None:
    """Two physical-layout hazards of reading parquet OUTSIDE Spark's
    scan (the stream's pyarrow partitions): (1) Hive ``partition_by``
    layouts keep the partition column in the DIRECTORY NAME, not the
    file — the reader must parse it back from the path; (2) files
    written before ``ALTER TABLE ADD COLUMN`` lack the new column —
    the reader must null-fill, matching Spark's own evolved-scan
    semantics (the streaming twin of the r13 batch CDC-across-ALTER
    pin)."""
    from sql_autoloader_spark.streaming import read_changes_stream

    # -- (1) Hive-partitioned managed table
    db = SparkConnector(
        spark,
        database="cdcpart",
        partition_by={"pt_t": ["cat"]},
    )
    db.execute_ddl(
        "CREATE TABLE pt_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
        " cat TEXT);"
    )
    with db:
        db.insert(
            spark.createDataFrame(
                [("a", "x"), ("b", "y")], "name string, cat string"
            ),
            table="pt_t",
        )
    head = db.commit_history()[-1]
    got: list = []
    q = (
        read_changes_stream(db, "pt_t")
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {(r["name"], r["cat"], r["_commit_id"]) for r in got} == {
        ("a", "x", head),
        ("b", "y", head),
    }

    # -- (2) schema evolution: pre-ALTER files null-fill the new column
    db2 = SparkConnector(spark, database="cdcevolve")
    db2.execute_ddl(
        "CREATE TABLE ev_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    with db2:
        db2.insert(spark.createDataFrame([("old",)], ["name"]), table="ev_t")
    db2.execute_ddl("ALTER TABLE ev_t ADD COLUMN note TEXT;")
    with db2:
        db2.insert(
            spark.createDataFrame(
                [("new", "hello")], "name string, note string"
            ),
            table="ev_t",
        )
    got2: list = []
    q2 = (
        read_changes_stream(db2, "ev_t")
        .writeStream.foreachBatch(lambda df, _b: got2.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = {r["name"]: r["note"] for r in got2}
    assert rows == {"old": None, "new": "hello"}


def test_stream_rollup_resumes_after_polling_interleave(
    spark: SparkSession, tmp_path
) -> None:
    """r15: the documented poll<->stream switch, in the direction that
    used to double count.  A polling refresh advances the bookmark past
    the stream's checkpoint position; the restarted stream re-serves
    those commits under a FRESH batch id, so the stream_batch replay
    guard alone cannot skip them — the fold's _commit_id > bookmark
    clip must.  Also pins the ADVICE fix that polling refreshes CARRY
    the stream_batch key through the HEAD flip (both the publish and
    the empty-delta branch) instead of dropping it."""
    from sql_autoloader_spark.connectors.consumer import RollupConsumer
    from sql_autoloader_spark.streaming import stream_rollup

    db = SparkConnector(spark, database="pollstream")
    db.execute_ddl(
        "CREATE TABLE ps_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
        " name_len INTEGER);"
    )
    db.execute_ddl(
        "CREATE TABLE ps_other (id INTEGER PRIMARY KEY, v TEXT UNIQUE);"
    )

    def add(names) -> None:  # noqa: ANN001
        with db:
            db.insert(
                spark.createDataFrame(
                    [(n, len(n)) for n in names], "name string, name_len int"
                ),
                table="ps_t",
            )

    def agg(frame):  # noqa: ANN001, ANN202
        return frame.groupBy("name_len").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    rc = RollupConsumer(spark, str(tmp_path / "state"), keys=["name_len"])
    ckpt = str(tmp_path / "ckpt")

    # stream drain: commits 1-2 — HEAD now records a stream_batch id
    add(["a", "bb"])
    add(["cc"])
    stream_rollup(db, "ps_t", rc, agg, checkpoint_dir=ckpt).awaitTermination()
    sb = rc.head().get("stream_batch")
    assert sb is not None

    # polling refresh folds commit 3 — bookmark moves PAST the stream's
    # checkpoint position, and stream_batch must survive the flip
    add(["ddd"])
    st = rc.refresh(db, "ps_t", agg)
    assert st.get("stream_batch") == sb
    assert {r["name_len"]: r["n"] for r in rc.summary().collect()} == {
        1: 1, 2: 2, 3: 1
    }

    # a commit touching only the OTHER table exercises the empty-delta
    # branch — it too must carry stream_batch while advancing
    with db:
        db.insert(spark.createDataFrame([("x",)], ["v"]), table="ps_other")
    st2 = rc.refresh(db, "ps_t", agg)
    assert st2["bookmark"] > st["bookmark"]
    assert st2.get("stream_batch") == sb

    # restart the stream on the SAME checkpoint with one genuinely new
    # commit: the planned batch re-serves the polled commits too, and
    # only the new one may fold — exactly-once content
    add(["eeee"])
    stream_rollup(db, "ps_t", rc, agg, checkpoint_dir=ckpt).awaitTermination()
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 2, 3: 1, 4: 1}  # ddd counted ONCE
    assert rc.head()["bookmark"] == db.commit_history()[-1]


def test_stream_fold_errors_in_vacuum_intent_window(
    spark: SparkSession, tmp_path, monkeypatch
) -> None:
    """r15 ADVICE fix, streaming twin: the fold's post-materialization
    vacuum re-check must trip on the INTENT signature (intent above the
    bookmark, floor still below — the post-rewrite pre-floor window
    where a floor-only check passes while the delta already lost the
    retagged rows)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sql_autoloader_spark.connectors.consumer import RollupConsumer
    from sql_autoloader_spark.streaming import stream_rollup

    db = SparkConnector(spark, database="streamintwin")
    db.execute_ddl(
        "CREATE TABLE si_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
        " name_len INTEGER);"
    )
    with db:
        db.insert(
            spark.createDataFrame(
                [("a", 1), ("bb", 2)], "name string, name_len int"
            ),
            table="si_t",
        )

    rc = RollupConsumer(spark, str(tmp_path / "state"), keys=["name_len"])
    journal = db._journal
    real_state = journal.state

    def agg_in_intent_window(frame):  # noqa: ANN001, ANN202
        visible, floor, _ = real_state()
        monkeypatch.setattr(
            journal, "state", lambda: (visible, floor, floor + 1)
        )
        return frame.groupBy("name_len").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    with pytest.raises(StreamingQueryException, match="concurrent vacuum"):
        stream_rollup(
            db,
            "si_t",
            rc,
            agg_in_intent_window,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).awaitTermination()
    monkeypatch.setattr(journal, "state", real_state)
    # the bookmark never advanced past the (possibly lost) rows
    assert rc.head() == {"version": 0, "bookmark": 0}


def test_checkpoint_anchor_parses_real_and_synthetic_offset_logs(
    spark: SparkSession, tmp_path
) -> None:
    """r15: pin the ``_checkpoint_anchor`` contract against BOTH a
    synthetic offset file (the unit case) and a REAL checkpoint Spark
    wrote after a drain.  The anchor parses Spark's internal offset-seq
    log (``v1`` header, metadata line, one offset JSON per source); a
    silent upstream format change would uncap maxCommitsPerTrigger —
    this test fails on that drift instead."""
    import json
    import os

    from sql_autoloader_spark.streaming.cdc_source import (
        _checkpoint_anchor,
        read_changes_stream,
    )

    # -- synthetic: the documented v1 offset-seq shape
    synth = tmp_path / "synth"
    (synth / "offsets").mkdir(parents=True)
    (synth / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":1}\n'
        '{"commit": 7}\n'
    )
    assert _checkpoint_anchor(str(synth)) == 7
    # offset serialized as a JSON string (the Python data source API
    # round-trips dict offsets through json.dumps)
    (synth / "offsets" / "1").write_text(
        "v1\n{}\n" + json.dumps(json.dumps({"commit": 9})) + "\n"
    )
    assert _checkpoint_anchor(str(synth)) == 9  # latest batch wins
    # fresh/absent checkpoints anchor nowhere
    assert _checkpoint_anchor(str(tmp_path / "nope")) is None

    # -- real: drain a stream, then the anchor must equal the planned
    # offset Spark durably recorded (= the head commit it served)
    db = SparkConnector(spark, database="anchorpin")
    db.execute_ddl("CREATE TABLE ap_t (id INTEGER PRIMARY KEY, v TEXT);")
    for batch in (["a", "b"], ["c"]):
        with db:
            db.insert(
                spark.createDataFrame([(x,) for x in batch], ["v"]),
                table="ap_t",
            )
    ckpt = str(tmp_path / "ckpt")
    q = (
        read_changes_stream(db, "ap_t", checkpoint_dir=ckpt)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    head = db.commit_history()[-1]
    got = _checkpoint_anchor(ckpt)
    assert got == head, (
        f"_checkpoint_anchor read {got!r} from a real post-drain "
        f"checkpoint, expected the drained head commit {head} — "
        "Spark's offset-log format may have drifted"
    )
    # and the real file still matches the shape the parser assumes
    offsets = sorted(os.listdir(os.path.join(ckpt, "offsets")))
    assert offsets, "real checkpoint wrote no offsets log"


def test_streaming_cdc_plans_from_manifests_no_footer_opens(
    spark: SparkSession, tmp_path
) -> None:
    """r15: with per-commit manifests present, a trigger's partitions()
    must plan WITHOUT walking the table directory and WITHOUT opening
    any file outside the range's manifests — O(commits in range).

    Monkeypatching can't pin this (planning runs in the data source's
    own Python worker process), so the pin is BEHAVIORAL: a decoy
    garbage ``.parquet`` file is planted in the table directory.  The
    fallback walk would pick it up (unreadable footer degrades to
    'maybe', then the read crashes on it); the manifest plan never
    touches it — so a green drain proves zero out-of-manifest opens.
    Then manifests are deleted (a pre-manifest journal) and a fresh
    stream must fall back to walk+prune and serve the same rows."""
    import os

    from sql_autoloader_spark.streaming import read_changes_stream

    db = SparkConnector(spark, database="mstream")
    db.execute_ddl(
        "CREATE TABLE ms_t (id INTEGER PRIMARY KEY, v TEXT);"
        "CREATE TABLE ms_other (id INTEGER PRIMARY KEY, w TEXT);"
    )
    with db:
        db.insert(spark.createDataFrame([("a",), ("b",)], ["v"]), table="ms_t")
    with db:
        db.insert(spark.createDataFrame([("x",)], ["w"]), table="ms_other")
    with db:
        db.insert(spark.createDataFrame([("c",)], ["v"]), table="ms_t")

    loc = db._table_location("ms_t")
    for prefix in ("file://", "file:"):
        loc = loc.removeprefix(prefix)
    decoy = os.path.join(loc, "part-zzz-decoy.c000.snappy.parquet")
    with open(decoy, "wb") as fh:
        fh.write(b"this is not a parquet file")

    expect = [("a", 1), ("b", 1), ("c", 3)]

    def drain(ck: str) -> list:
        got: list = []
        q = (
            read_changes_stream(db, "ms_t", checkpoint_dir=ck)
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r["v"], r["_commit_id"]) for r in got)

    try:
        # manifest plan: the decoy is never opened — green drain
        assert drain(str(tmp_path / "ck_fast")) == expect

        # sanity of the pin itself: WITHOUT manifests the fallback walk
        # must hit the decoy and fail — proving the decoy is a real
        # tripwire, not dead weight
        jdir = db._journal._dir
        for prefix in ("file://", "file:"):
            jdir = jdir.removeprefix(prefix)
        saved = {}
        for n in os.listdir(jdir):
            if n.endswith(".manifest"):
                with open(os.path.join(jdir, n), "rb") as fh:
                    saved[n] = fh.read()
                os.unlink(os.path.join(jdir, n))
        with pytest.raises(Exception, match=".*"):
            drain(str(tmp_path / "ck_trip"))
    finally:
        os.unlink(decoy)

    # backward compat: pre-manifest journal, no decoy — the fallback
    # walk + footer prune serves the identical feed
    assert drain(str(tmp_path / "ck_fallback")) == expect
    # restore manifests for any later reader of this warehouse
    for n, content in saved.items():
        with open(os.path.join(jdir, n), "wb") as fh:
            fh.write(content)



def test_stream_rollup_processing_time_live_subscription(
    spark: SparkSession, tmp_path
) -> None:
    """r15 task #3: ``stream_rollup(trigger={"processingTime": ...})``
    is a LONG-LIVED subscription — a live writer commits while the
    query stays up, the rollup converges without re-invocation, and
    ``query.stop()`` is a clean stop (no exception, bookmark at the
    head, content exactly-once).  Also pins trigger validation."""
    import time

    from sql_autoloader_spark.connectors.consumer import RollupConsumer
    from sql_autoloader_spark.streaming import stream_rollup

    db = SparkConnector(spark, database="livesub")
    db.execute_ddl(
        "CREATE TABLE lv_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
        " name_len INTEGER);"
    )

    def add(names) -> None:  # noqa: ANN001
        with db:
            db.insert(
                spark.createDataFrame(
                    [(n, len(n)) for n in names], "name string, name_len int"
                ),
                table="lv_t",
            )

    def agg(frame):  # noqa: ANN001, ANN202
        return frame.groupBy("name_len").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    rc = RollupConsumer(spark, str(tmp_path / "state"), keys=["name_len"])

    with pytest.raises(ValueError, match="trigger"):
        stream_rollup(
            db, "lv_t", rc, agg,
            checkpoint_dir=str(tmp_path / "bad"),
            trigger={"continuous": "1 second"},
        )

    add(["a", "bb"])
    q = stream_rollup(
        db, "lv_t", rc, agg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:

        def converged(expect: dict, deadline_s: float = 90.0) -> dict:
            end = time.monotonic() + deadline_s
            while time.monotonic() < end:
                s = rc.summary()
                got = (
                    {r["name_len"]: r["n"] for r in s.collect()}
                    if s is not None
                    else {}
                )
                if got == expect:
                    return got
                if q.exception() is not None:
                    raise AssertionError(str(q.exception()))
                time.sleep(1.0)
            msg = f"no convergence to {expect}, last saw {got}"
            raise AssertionError(msg)

        converged({1: 1, 2: 1})
        # the writer keeps committing while the query stays up
        add(["ccc"])
        converged({1: 1, 2: 1, 3: 1})
        add(["dddd", "ee"])
        converged({1: 1, 2: 2, 3: 1, 4: 1})
    finally:
        q.stop()
    q.awaitTermination(60)
    assert q.exception() is None  # clean stop
    assert rc.head()["bookmark"] == db.commit_history()[-1]
    # and the next availableNow drain on the SAME checkpoint is a
    # no-op (no double fold of anything the live run saw)
    stream_rollup(
        db, "lv_t", rc, agg, checkpoint_dir=str(tmp_path / "ckpt")
    ).awaitTermination()
    got = {r["name_len"]: r["n"] for r in rc.summary().collect()}
    assert got == {1: 1, 2: 2, 3: 1, 4: 1}


def test_warehouse_multi_stream_trigger_cost(
    spark: SparkSession, tmp_path, monkeypatch
) -> None:
    """r15 task #5: the multi-table subscription's per-trigger planning
    cost, measured at the reader level (planning normally runs in the
    source's own worker process; calling the reader directly makes the
    count observable).  With manifests + the mtime memo, a trigger
    wave over N streams of one warehouse costs ONE journal listing
    total (every later offsets/partitions call is a stat-only memo
    hit), zero table-directory walks, zero footer opens; a new commit
    invalidates the memo and is seen immediately."""
    import os as _os
    import time

    from sql_autoloader_spark.streaming import (
        cdc_source,
        read_warehouse_changes_stream,
    )

    db = SparkConnector(spark, database="multisub")
    db.execute_ddl(
        "CREATE TABLE wa_t (id INTEGER PRIMARY KEY, v TEXT);"
        "CREATE TABLE wb_t (id INTEGER PRIMARY KEY, w TEXT);"
    )
    with db:
        db.insert(spark.createDataFrame([("a",)], ["v"]), table="wa_t")
    with db:
        db.insert(spark.createDataFrame([("x",), ("y",)], ["w"]), table="wb_t")

    # the public helper wires one stream per table off one journal
    feeds = read_warehouse_changes_stream(db, ["wa_t", "wb_t"])
    assert set(feeds) == {"wa_t", "wb_t"}
    assert all(f.isStreaming for f in feeds.values())

    jdir = db._journal._dir
    for prefix in ("file://", "file:"):
        jdir = jdir.removeprefix(prefix)
    time.sleep(0.2)  # past the memo settle window

    listings = []
    real_listdir = _os.listdir

    def counting_listdir(path):  # noqa: ANN001, ANN202
        if str(path).rstrip("/") == jdir.rstrip("/"):
            listings.append(path)
        return real_listdir(path)

    walks = []
    real_walk = cdc_source._list_parquet

    def counting_walk(location):  # noqa: ANN001, ANN202
        walks.append(location)
        return real_walk(location)

    monkeypatch.setattr(cdc_source.os, "listdir", counting_listdir)
    monkeypatch.setattr(cdc_source, "_list_parquet", counting_walk)
    cdc_source._STATE_MEMO.clear()

    def trigger_wave(readers) -> int:  # noqa: ANN001
        n_files = 0
        for r in readers:
            start = r.initialOffset()
            end = r.latestOffset()
            parts = r.partitions(start, end)
            n_files += sum(1 for p in parts if p.path)
        return n_files

    def reader(table: str):  # noqa: ANN202
        loc = db._table_location(table)
        for prefix in ("file://", "file:"):
            loc = loc.removeprefix(prefix)
        schema = spark.table(db._qualified(table)).schema
        return cdc_source._ChangesStreamReader(
            schema, {"location": loc, "journal": jdir}
        )

    readers = [reader("wa_t"), reader("wb_t")]
    n_files = trigger_wave(readers)
    assert n_files >= 2  # both tables' commits planned
    assert len(listings) == 1, (
        f"a 2-stream trigger wave listed the journal {len(listings)} "
        "times; the memo should make it exactly one"
    )
    assert walks == [], "table directory walked despite manifests"

    # an idle follow-up wave is pure stat(2): zero further listings
    trigger_wave(readers)
    assert len(listings) == 1
    # a new commit invalidates the memo: the next wave re-lists once
    # (fresh, unmemoized — inside the settle window) and sees the head
    with db:
        db.insert(spark.createDataFrame([("b",)], ["v"]), table="wa_t")
    head = db.commit_history()[-1]
    assert readers[0].latestOffset() == {"commit": head}
    assert len(listings) == 2
    assert walks == []


def _local(path: str) -> str:
    for prefix in ("file://", "file:"):
        path = path.removeprefix(prefix)
    return path.rstrip("/")


def test_streaming_cdc_feed_on_copied_warehouse(
    spark: SparkSession, tmp_path
) -> None:
    """A managed database's directory copied to a new database name and
    reopened there (how a base store is cloned) must stream exactly the
    batch feed.  The manifests still record the source's absolute
    table location; entries resolve by table name onto the table's
    current location, never to an empty feed."""
    import os
    import shutil

    from sql_autoloader_spark.streaming import read_changes_stream

    src = SparkConnector(spark, database="cdccopysrc")
    src.execute_ddl("CREATE TABLE cc_t (id INTEGER PRIMARY KEY, v TEXT UNIQUE);")
    for batch in (["a", "b"], ["c"]):
        with src:
            src.insert(
                spark.createDataFrame([(x,) for x in batch], ["v"]),
                table="cc_t",
            )
    src_dir = _local(src._db_location())
    shutil.copytree(
        src_dir, os.path.join(os.path.dirname(src_dir), "cdccopydst.db")
    )
    db = SparkConnector(spark, database="cdccopydst")
    assert _local(db._db_location()) != src_dir

    want = sorted(
        (r["v"], r["_commit_id"])
        for r in db.table_changes("cc_t", 0).collect()
    )
    assert [v for v, _ in want] == ["a", "b", "c"]
    q = (
        read_changes_stream(db, "cc_t")
        .writeStream.format("memory")
        .queryName("cdc_copied")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["v"], r["_commit_id"]) for r in spark.table("cdc_copied").collect()
    )
    assert got == want


def test_journal_decoding_parity_catalog_and_stream(
    spark: SparkSession, monkeypatch
) -> None:
    """One fabricated journal read through both of its callers — the
    catalog over Hadoop FS and the streaming reader over ``os`` — gives
    the same ``(visible, floor, intent)``, the same file lists and the
    same fallback.  The directory holds a commit at the floor, an
    unreadable commit file, a vacuum intent above the floor, a commit
    whose manifest names only another table, a manifest naming a
    missing file, and a commit without a manifest."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_autoloader_spark.streaming import cdc_source

    db = SparkConnector(spark, database="jparity")
    db.execute_ddl(
        "CREATE TABLE jp_t (id INTEGER PRIMARY KEY, v TEXT);"
        "CREATE TABLE jp_u (id INTEGER PRIMARY KEY, w TEXT);"
    )
    jdir = _local(db._journal._dir)
    loc = _local(db._table_location("jp_t"))
    os.makedirs(loc, exist_ok=True)
    for name in ("a.parquet", "b.parquet"):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([1], pa.int32()),
                    "v": ["x"],
                    "__commit_id": pa.array([333], pa.int64()),
                }
            ),
            os.path.join(loc, name),
        )

    def put(name: str, content) -> None:  # noqa: ANN001
        with open(os.path.join(jdir, name), "w") as fh:
            fh.write(content if isinstance(content, str) else json.dumps(content))

    def manifest(table: str, files: list[str]) -> dict:
        # the recorded location is stale on purpose: entries resolve by
        # table name onto the table's current location
        entry = {"location": "/moved/away", "files": files}
        return {"manifest_version": 1, "tables": {table: entry}}

    put("2.floor", "")
    put("5.vacuuming", "")
    put("1.commit", "111")  # at or below the floor: excluded
    put("3.commit", "333")
    put("333.manifest", manifest("jp_t", ["a.parquet", "b.parquet"]))
    put("4.commit", "not a token")  # unreadable: skipped
    put("6.commit", "666")
    put("666.manifest", manifest("jp_u", ["x.parquet"]))
    put("7.commit", "777")
    put("777.manifest", manifest("jp_t", ["missing.parquet"]))
    put("8.commit", "888")  # pre-manifest commit

    want_state = ({3: 333, 6: 666, 7: 777, 8: 888}, 2, 5)
    assert db._journal.state() == want_state
    assert cdc_source._journal_state(jdir) == want_state

    schema = spark.table(db._qualified("jp_t")).schema
    reader = cdc_source._ChangesStreamReader(
        schema, {"location": loc, "journal": jdir, "table": "jp_t"}
    )
    # both refuse a range under the in-flight vacuum
    with pytest.raises(ValueError, match="in progress"):
        db.table_changes("jp_t", 2)
    with pytest.raises(ValueError, match="in progress"):
        reader.partitions({"commit": 2}, {"commit": 8})
    os.unlink(os.path.join(jdir, "5.vacuuming"))

    walks: list[str] = []
    real_walk = cdc_source._list_parquet

    def counting_walk(location):  # noqa: ANN001, ANN202
        walks.append(location)
        return real_walk(location)

    monkeypatch.setattr(cdc_source, "_list_parquet", counting_walk)

    def catalog_files(lo: int, hi: int) -> list[str] | None:
        tokens = [t for c, t in want_state[0].items() if lo < c <= hi]
        scan = db._manifest_scan("jp_t", tokens)
        return None if scan is None else sorted(map(_local, scan.inputFiles()))

    def stream_files(lo: int, hi: int) -> list[str] | None:
        walks.clear()
        parts = reader.partitions({"commit": lo}, {"commit": hi})
        return None if walks else sorted(p.path for p in parts if p.path)

    both = [os.path.join(loc, "a.parquet"), os.path.join(loc, "b.parquet")]
    for lo, hi, want in [
        (2, 3, both),
        (3, 6, []),  # only the other table (and an unreadable commit)
        (2, 6, both),
        (6, 7, None),  # a manifested file is gone
        (7, 8, None),  # no manifest
        (2, 8, None),
    ]:
        assert catalog_files(lo, hi) == want, (lo, hi)
        assert stream_files(lo, hi) == want, (lo, hi)
